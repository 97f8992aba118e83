package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.api.Graft
import graft.calculators.StubCalculator
import graft.core.Config
import graft.pipeline.ActiveLoop

/** The outcome of one output check, made outside the timed window. */
final case class Check(name: String, ok: Boolean, detail: String)

/** A workload-specific figure, printed by name and unit. */
final case class Info(name: String, value: Double, unit: String,
    note: String = "")

/** One workload: inputs made from the seed, a pass of layer calls that
  * the driver repeats in a closed loop, and checks on the outputs.
  * Every step is one call into a layer's public function followed by
  * an action on its output: a pin when a later step of the pass
  * consumes it, else a noop write. Pins are released between passes,
  * so no pass reuses another's cached results. */
abstract class Workload(val spark: SparkSession, val seed: Long,
    val root: File) {
  def name: String

  /** Generates the inputs and the run's starting state. The driver
    * calls it several times and keeps the last. */
  def prepare(): Unit

  /** Fresh per-pass state, outside the timed window. */
  def beforePass(idx: Int): Unit = ()

  /** One pass of steps. */
  def pass(t: Tracer, idx: Int): Unit

  /** Per-pass bookkeeping and cleanup, outside the timed window. */
  def afterPass(t: Tracer, idx: Int): Unit = ()

  /** Units of work of one pass and the step names that do them. */
  def items: Long
  def itemSteps: Set[String]

  def checks(t: Tracer): Seq[Check]
  def inputProps: Seq[(String, String)]
  def info(t: Tracer): Seq[Info]

  /** Per-layer figures that are not span counters. */
  def layerExtras: Seq[(String, Double)] = Nil

  // ---- helpers shared by the workloads

  private val pins = mutable.ArrayBuffer[Dataset[_]]()

  protected def noop(df: Dataset[_]): Unit =
    df.write.format("noop").mode("overwrite").save()

  protected def pin[T](ds: Dataset[T]): Dataset[T] = {
    ds.persist(StorageLevel.MEMORY_AND_DISK)
    noop(ds)
    pins += ds
    ds
  }

  /** Drops every pin of the last pass. */
  def release(): Unit = {
    pins.foreach(_.unpersist(blocking = true))
    pins.clear()
  }

  protected def dir(parts: String*): String =
    parts.foldLeft(root)(new File(_, _)).getAbsolutePath
}

object Workload {
  def apply(name: String, spark: SparkSession, seed: Long,
      root: File): Workload = name match {
    case "curate" => new Curate(spark, seed, root)
    case "materials" => new Materials(spark, seed, root)
    case "lake" => new Lake(spark, seed, root)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (curate, materials, lake)")
  }

  val Names: Seq[String] = Seq("curate", "materials", "lake")

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }

  def treeBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(treeBytes).sum
    else f.length()

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** Median and the highest percentile with at least ten samples
    * beyond it, as Info rows. */
  def latency(name: String, ms: Seq[Double]): Seq[Info] = {
    val s = ms.sorted
    val tail =
      if (s.length < 11) Info(s"$name.tail", Double.NaN, "ms",
        s"n=${s.length}: fewer than 11 samples")
      else {
        val p = 100.0 * (s.length - 10) / s.length
        Info(s"$name.tail", s(s.length - 11), "ms", f"p$p%.0f n=${s.length}")
      }
    Seq(Info(s"$name.p50", median(s), "ms", s"n=${s.length}"), tail)
  }

  def callMs(t: Tracer, names: String*): Seq[Double] =
    t.spans.filter(s => names.contains(s.name) && !s.traced && s.pass > 0)
      .map(_.wallMs).toSeq
}

// ----------------------------------------------------------------------

/** Corpus curation: text dedup operators, one append of the kept docs
  * to the lake, then the embedding kernels (nearest-neighbour search,
  * k-means summary, PCA, semantic dedup) over a clustered vector
  * corpus. */
final class Curate(spark: SparkSession, seed: Long, root: File)
    extends Workload(spark, seed, root) {
  import spark.implicits._

  val name = "curate"
  val NDocs = 3000
  val ExactRate = 0.06
  val NearRate = 0.10
  val K = 16
  val Bands = 4
  // below the 8192-vector train cap: k-means fits use every vector and
  // lshTopK scans the broadcast pool exactly. The sampled IVF and banded
  // LSH paths above the cap cost about a quarter more CPU per pass.
  val NVec = 4000
  val NQueries = 50
  val Dim = 64
  val VecClusters = 128
  val TopK = 10

  private var corpus: Inputs.Corpus = _
  private var docs: DataFrame = _
  private var vecs: Inputs.Vectors = _
  private var emb: DataFrame = _
  private var queries: DataFrame = _
  private var last: (DataFrame, DataFrame, DataFrame) = _

  def prepare(): Unit = {
    Seq(docs, emb, queries).filter(_ != null).foreach(_.unpersist(blocking = true))
    corpus = Inputs.corpus(seed, NDocs, ExactRate, NearRate)
    docs = corpus.docs.toDF("doc_id", "text").repartition(4)
      .persist(StorageLevel.MEMORY_AND_DISK)
    vecs = Inputs.vectors(seed, NVec, NQueries, Dim, VecClusters)
    emb = vecs.corpus.map { case (i, v) => (i, v.toSeq) }.toDF("id", "v")
      .repartition(4).persist(StorageLevel.MEMORY_AND_DISK)
    queries = vecs.queries.map { case (i, v) => (i, v.toSeq) }.toDF("id", "v")
      .repartition(4).persist(StorageLevel.MEMORY_AND_DISK)
    docs.count(); emb.count(); queries.count()
  }

  private def nlist = Graft.similarity.adaptiveNlist(NVec)

  private def ivf: DataFrame =
    Graft.similarity.ivfTopK(emb, queries, "v", "id", TopK, nlist)

  private def lsh: DataFrame =
    Graft.similarity.lshTopK(emb, queries, "v", "id", TopK, Dim, seed)

  def pass(t: Tracer, idx: Int): Unit = {
    t.step("queries.exact_dedup") {
      noop(Graft.dedup.exactDedup(docs, "doc_id", "text"))
    }
    val sig = t.step("operators.minhash_signatures") {
      pin(Graft.dedup.minhashSignatures(docs, "doc_id", "text", k = K,
        bands = Bands))
    }
    val pairs = t.step("operators.minhash_pairs") {
      pin(Graft.dedup.minhashCandidatePairs(sig, "doc_id", k = K,
        bands = Bands, threshold = 0.75))
    }
    val labels = t.step("operators.cluster_labels") {
      pin(Graft.dedup.clusterLabels(
        pairs.select($"id_a".as("doc_a"), $"id_b".as("doc_b")),
        docs.select($"doc_id")))
    }
    val best = t.step("queries.keep_best") {
      pin(Graft.dedup.keepBest(labels,
        Graft.text.qualityScore(docs).select($"doc_id", $"quality")))
    }
    t.step("queries.cluster_split") {
      noop(Graft.dedup.clusterSplit(labels))
    }
    t.step("sources.commit") {
      Graft.tables.commit(best.where($"keep").join(docs, "doc_id")
        .select($"doc_id", $"cluster_id", $"quality", $"text"),
        dir("kept", s"pass-$idx"))
    }
    t.step("operators.ivf_topk") { noop(ivf) }
    t.step("operators.lsh_topk") { noop(lsh) }
    t.step("queries.kmeans_summary") {
      noop(Graft.similarity.kmeansSummary(emb, "id", "v", 32))
    }
    t.step("operators.pca_project") {
      noop(Graft.similarity.pcaProjectDeterministic(emb, "id", "v", 8))
    }
    t.step("operators.sem_dedup") {
      noop(Graft.dedup.semDedup(emb, "v", "id", nlist, tau = 0.95))
    }
    last = (pairs, labels, best)
  }

  override def afterPass(t: Tracer, idx: Int): Unit =
    Workload.deleteTree(new File(dir("kept", s"pass-$idx")))

  def items: Long = NDocs
  def itemSteps: Set[String] = Set("queries.exact_dedup",
    "operators.minhash_signatures", "operators.minhash_pairs",
    "operators.cluster_labels", "queries.keep_best", "queries.cluster_split")

  private lazy val outcome = {
    val (pairs, labels, best) = last
    val label = labels.as[(Long, Long)].collect().toMap
    val cand = pairs.select($"id_a", $"id_b").as[(Long, Long)].collect()
    val fam = corpus.family
    val inFamily = cand.count { case (a, b) => fam(a) == fam(b) }
    val found = corpus.nearPairs.count { case (a, b) => label(a) == label(b) }
    val exactOk = corpus.exactPairs.count { case (a, b) => label(a) == label(b) }
    val leaked = Graft.dedup.clusterSplit(labels)
      .select($"leaked_clusters").as[Long].collect().head
    val kept = best.where($"keep").count()
    val clusters = label.values.toSet.size.toLong
    (cand.length, inFamily, found, exactOk, leaked, kept, clusters)
  }

  def dupRecall: Double = outcome._3.toDouble / corpus.nearPairs.length
  def truePairFrac: Double = outcome._2.toDouble / math.max(1, outcome._1)

  private lazy val ivfRows: Map[Long, Seq[Long]] =
    ivf.select($"query_id", $"vec_id").as[(Long, Long)].collect()
      .groupBy(_._1).map { case (q, xs) => q -> xs.map(_._2).toSeq }

  /** ivf top-10 against exact cosine top-10 over the raw vectors, on
    * every fourth query. */
  lazy val recallAt10: Double = {
    val sample = vecs.queries.zipWithIndex.collect { case (q, i) if i % 4 == 0 => q }
    val hits = sample.map { case (qid, qv) =>
      val exact = vecs.corpus.map { case (id, v) =>
        var s = 0.0; var j = 0
        while (j < Dim) { s += v(j) * qv(j); j += 1 }
        (-s, id)
      }.sorted.take(TopK).map(_._2).toSet
      ivfRows.getOrElse(qid, Nil).count(exact.contains)
    }
    hits.sum.toDouble / (sample.length * TopK)
  }

  def checks(t: Tracer): Seq[Check] = {
    val (_, _, _, exactOk, leaked, kept, clusters) = outcome
    val lshCounts = lsh.groupBy($"query_id").count().as[(Long, Long)]
      .collect().toMap
    def full(m: Map[Long, Int]) =
      vecs.queries.forall(q => m.getOrElse(q._1, 0) == TopK)
    Seq(
      Check("leaked_clusters == 0", leaked == 0, s"leaked=$leaked"),
      Check("planted exact duplicates share a cluster",
        exactOk == corpus.exactPairs.length,
        s"$exactOk of ${corpus.exactPairs.length}"),
      Check("kept rows == distinct clusters", kept == clusters,
        s"kept=$kept clusters=$clusters"),
      Check("dup_recall >= 0.95", dupRecall >= 0.95, f"dup_recall=$dupRecall%.4f"),
      Check("every query gets k ivf results",
        full(ivfRows.map(kv => kv._1 -> kv._2.size)), s"queries=${ivfRows.size}"),
      Check("every query gets k lsh results",
        full(lshCounts.map(kv => kv._1 -> kv._2.toInt)), s"queries=${lshCounts.size}"),
      Check("recall_at_10 >= 0.8", recallAt10 >= 0.8, f"recall=$recallAt10%.4f"))
  }

  def inputProps: Seq[(String, String)] = Seq(
    "docs" -> NDocs.toString, "bytes" -> corpus.bytes.toString,
    "planted_exact_dups" -> corpus.exactPairs.length.toString,
    "planted_near_dups" -> corpus.nearPairs.length.toString,
    "tokens_per_doc" -> "40-200", "zipf_s" -> "1.05",
    "vectors" -> NVec.toString, "queries" -> NQueries.toString,
    "dim" -> Dim.toString, "vector_clusters" -> VecClusters.toString,
    "vector_bytes" -> (NVec.toLong * Dim * 8).toString)

  def info(t: Tracer): Seq[Info] = Seq(Info("dup_recall", dupRecall, "ratio"),
    Info("recall_at_10", recallAt10, "ratio"))

  override def layerExtras: Seq[(String, Double)] = Seq(
    "operators.minhash_pairs.true_pair_frac" -> truePairFrac)
}

// ----------------------------------------------------------------------

/** The paper's own pipeline: generators, calculator, splits, export on
  * JVM-object Datasets, then enumeration and an active loop of many
  * tiny jobs. */
final class Materials(spark: SparkSession, seed: Long, root: File)
    extends Workload(spark, seed, root) {
  import spark.implicits._

  val name = "materials"
  val NSeeds = 12
  val NSub = 6
  val NVac = 4
  val NDist = 4
  val EnumMaxSize = 4
  val AlSteps = 1
  val Species = Seq("Ag", "Pd")

  private val calc = StubCalculator(k = 1.0, ranSeed = seed)
  private var seedCfgs: Seq[Config] = _
  private var seeds: Dataset[Config] = _
  private var loop: ActiveLoop = _
  private var lastExtract: Dataset[Config] = _
  private val alAdded = mutable.ArrayBuffer[Long]()
  private val alRuns = mutable.ArrayBuffer[(Seq[Long], Seq[(String, Int)])]()
  private var nConfigs = 0L

  def prepare(): Unit = {
    if (seeds != null) seeds.unpersist(blocking = true)
    seedCfgs = Inputs.supercellSeeds(seed, NSeeds)
    seeds = spark.createDataset(seedCfgs).repartition(4)
      .persist(StorageLevel.MEMORY_AND_DISK)
    seeds.count()
  }

  private def alPath(idx: Int) = dir("active", s"pass-$idx")
  private def splitPath(idx: Int) = dir("splits", s"pass-$idx")

  override def beforePass(idx: Int): Unit = {
    loop = new ActiveLoop(spark, calc, alPath(idx), ranSeed = seed)
    loop.bootstrap(seedCfgs.take(8))
    alAdded.clear()
  }

  def pass(t: Tracer, idx: Int): Unit = {
    val sub = t.step("generators.substitution") {
      pin(Graft.materials.substitution(seeds, Map("Ag" -> 0.5, "Pd" -> 0.5),
        NSub, seed))
    }
    val vac = t.step("generators.vacancy") {
      pin(Graft.materials.vacancy(sub, 0.1, NVac, seed))
    }
    val dist = t.step("generators.distortion") {
      pin(Graft.materials.distortion(vac, NDist, covDiag = 0.0004,
        volumeFactor = 1.0, rattle = 0.01, ranSeed = seed)
        .dropDuplicates("uuid"))
    }
    val c = calc
    val ext = t.step("calculators.extract") { pin(dist.map(c.extract(_))) }
    t.step("operators.split_assign") {
      Graft.splits.persist(Graft.splits.assign(ext.toDF(), "uuid", "main",
        trainFrac = 0.8, seed = seed), splitPath(idx))
    }
    t.step("fit.cfg_export") {
      noop(graft.fit.TrainTable.toCfgLines(ext, Species))
    }
    t.step("generators.enumerate") {
      noop(Graft.materials.enumerate(spark, "fcc", 4.05, Species, 1,
        EnumMaxSize))
    }
    (0 until AlSteps).foreach { _ =>
      alAdded += t.step("pipeline.active_step") {
        loop.step(nCandidatesPerConfig = 3, selectK = 8)
      }
    }
    lastExtract = ext
  }

  override def afterPass(t: Tracer, idx: Int): Unit = {
    alRuns += ((alAdded.toSeq, spark.read.parquet(alPath(idx))
      .select($"uuid", $"iteration").as[(String, Int)].collect().toSeq.sorted))
    if (nConfigs == 0) nConfigs = lastExtract.count()
    Workload.deleteTree(new File(alPath(idx)))
  }

  def items: Long = nConfigs
  def itemSteps: Set[String] = Set("generators.substitution",
    "generators.vacancy", "generators.distortion", "calculators.extract",
    "operators.split_assign", "fit.cfg_export")

  def checks(t: Tracer): Seq[Check] = {
    val n = lastExtract.count()
    val distinct = lastExtract.select($"uuid").distinct().count()
    val idx = t.spans.filter(_.name == "pass").last.pass
    val split = spark.read.parquet(splitPath(idx))
      .groupBy($"bucket").count().as[(String, Long)].collect().toMap
    val total = split.values.sum.toDouble
    val train = split.getOrElse("train", 0L) / total
    val hold = split.getOrElse("holdout", 0L) / total
    val alSame = alRuns.map(_._2).distinct.size == 1 &&
      alRuns.map(_._1).distinct.size == 1
    Seq(
      Check("uuids unique", n == distinct && n > 0, s"rows=$n distinct=$distinct"),
      Check("split fractions within 0.01 of 0.80/0.16",
        total == n && math.abs(train - 0.8) <= 0.01 &&
          math.abs(hold - 0.16) <= 0.01,
        f"n=$total%.0f train=$train%.4f holdout=$hold%.4f"),
      Check("active-loop additions identical across passes",
        alSame && alRuns.head._1.sum > 0,
        s"passes=${alRuns.length} added=${alRuns.head._1.mkString(",")}" +
          s" rows_sha256=$activeLoopHash"))
  }

  /** Digest of the last pass's final loop table, its (uuid, iteration)
    * rows sorted: equal across runs of one seed when the loop is
    * deterministic across processes, not only within one. */
  private def activeLoopHash: String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    alRuns.last._2.foreach { case (u, i) => md.update(s"$u\t$i\n".getBytes("UTF-8")) }
    md.digest().take(8).map(b => f"${b & 0xff}%02x").mkString
  }

  def inputProps: Seq[(String, String)] = Seq(
    "seed_supercells" -> NSeeds.toString,
    "atoms" -> seedCfgs.map(_.n).sum.toString,
    "configs_built" -> nConfigs.toString,
    "enumerate_max_size" -> EnumMaxSize.toString,
    "active_steps" -> AlSteps.toString,
    "active_loop_rows_sha256" -> activeLoopHash)

  def info(t: Tracer): Seq[Info] = Seq(
    Info("al_step_ms", Workload.median(
      Workload.callMs(t, "pipeline.active_step")), "ms"))
}

// ----------------------------------------------------------------------

/** A versioned table under a closed loop of upserts, predicate DML,
  * time-travel and change-feed reads, and periodic compaction. */
final class Lake(spark: SparkSession, seed: Long, root: File)
    extends Workload(spark, seed, root) {
  import spark.implicits._
  import Inputs.Row4
  import Lake._

  val name = "lake"
  val Rows = 40000
  val Files = 8
  val Batch = 100
  val RecentWindow = Rows / 20
  val NewPerBatch = 0.2

  /** One pass: four commits, three reads, then a compaction. One
    * upsert draws its keys from the newest key range, so file stats
    * prune it to the newest files; the other draws keys uniformly and
    * rewrites every file. */
  private val Template: Seq[String] = Seq("merge-recent", "delete",
    "merge-uniform", "update", "read", "read-as-of", "read-changes",
    "optimize")
  private val RecentShare =
    Template.count(_ == "merge-recent").toDouble / Template.count(_.startsWith("merge"))

  private val path = dir("table")
  private var base: Seq[Row4] = _
  private var baseVersion = 0
  private var passStartVersion = 0
  private val model = mutable.HashMap[Long, Row4]()
  private var maxKey = 0L
  private var opCounter = 0
  private var ops: Seq[Op] = Nil
  private var submittedBytes = 0L
  private var expInsert = 0L
  private var expUpdate = 0L
  private var expDelete = 0L

  def prepare(): Unit = {
    Workload.deleteTree(new File(path))
    base = Inputs.lakeBase(seed, Rows)
    baseVersion = Graft.tables.commit(
      rowsDf(base).repartitionByRange(Files, $"key"), path)
    model.clear()
    base.foreach(r => model(r._1) = r)
    maxKey = Rows - 1L
    opCounter = 0
    submittedBytes = base.map(Inputs.rowBytes).sum
    expInsert = 0; expUpdate = 0; expDelete = 0
    passStartVersion = baseVersion
  }

  private def rowsDf(rows: Iterable[Row4]): DataFrame =
    rows.toSeq.toDF("key", "grp", "val", "payload")

  /** The pass's operations, drawn from the seed and the op number. */
  override def beforePass(idx: Int): Unit = {
    var mk = maxKey
    ops = Template.map { c =>
      val r = Inputs.lakeOpRng(seed, opCounter)
      opCounter += 1
      c match {
        case "merge-recent" | "merge-uniform" =>
          val recent = c == "merge-recent"
          val keys = mutable.LinkedHashSet[Long]()
          while (keys.size < Batch) {
            keys += (
              if (!recent) r.nextLong(mk + 1)
              else if (r.nextDouble() < NewPerBatch) mk + 1 + r.nextInt(Batch)
              else mk - r.nextInt(RecentWindow))
          }
          mk = math.max(mk, keys.max)
          Merge(keys.toSeq.map(k => Inputs.lakeRow(r, k)))
        case "delete" =>
          val lo = r.nextLong(mk + 1)
          Delete(lo, lo + Rows / 500)
        case "update" => Update(997, r.nextInt(997))
        case "read" => ReadLatest
        case "read-as-of" => ReadAsOf
        case "read-changes" => ReadChanges
        case "optimize" => Optimize
      }
    }
  }

  def pass(t: Tracer, idx: Int): Unit = {
    val startV = passStartVersion
    ops.foreach {
      case Merge(rows) =>
        t.step("sources.merge") { Graft.tables.merge(rowsDf(rows), path, "key") }
      case Delete(lo, hi) =>
        t.step("sources.delete") {
          Graft.tables.deleteWhere(spark, path, $"key".between(lo, hi))
        }
      case Update(m, rem) =>
        t.step("sources.update") {
          Graft.tables.updateWhere(spark, path, pmod($"key", lit(m)) === rem,
            Map("val" -> ($"val" + 1)))
        }
      case ReadLatest =>
        t.step("sources.read") { noop(Graft.tables.read(spark, path)) }
      case ReadAsOf =>
        t.step("sources.read_as_of") {
          noop(Graft.tables.read(spark, path, Some(baseVersion)))
        }
      case ReadChanges =>
        t.step("sources.read_changes") {
          noop(Graft.tables.readChanges(spark, path, startV,
            Graft.tables.versions(path).last))
        }
      case Optimize =>
        t.step("sources.optimize") {
          Graft.tables.optimize(spark, path, numFiles = Files,
            clusterBy = Seq("key"))
        }
    }
  }

  /** Applies the pass's operations to the in-memory model. */
  override def afterPass(t: Tracer, idx: Int): Unit = {
    ops.foreach {
      case Merge(rows) =>
        rows.foreach { r =>
          if (model.contains(r._1)) expUpdate += 1 else expInsert += 1
          model(r._1) = r
          submittedBytes += Inputs.rowBytes(r)
          maxKey = math.max(maxKey, r._1)
        }
      case Delete(lo, hi) =>
        val gone = model.keys.filter(k => k >= lo && k <= hi).toSeq
        expDelete += gone.size
        gone.foreach(model.remove)
      case Update(m, rem) =>
        model.valuesIterator.filter(r => Math.floorMod(r._1, m.toLong) == rem)
          .toSeq.foreach { r =>
            model(r._1) = r.copy(_3 = r._3 + 1)
            expUpdate += 1
          }
      case _ =>
    }
    passStartVersion = Graft.tables.versions(path).last
  }

  /** Write operations per pass, timed over the write steps only. */
  def items: Long = Template.count(c => c.startsWith("merge") ||
    c == "delete" || c == "update")
  def itemSteps: Set[String] = Set("sources.merge", "sources.delete",
    "sources.update")

  def checks(t: Tracer): Seq[Check] = {
    // exact comparisons, duplicates included: the table is small enough
    // to collect
    def rows(df: DataFrame): Seq[Row4] =
      df.select($"key", $"grp", $"val", $"payload").as[Row4].collect()
        .toSeq.sorted
    val latest = rows(Graft.tables.read(spark, path))
    val asOf = rows(Graft.tables.read(spark, path, Some(baseVersion)))
    val feed = Graft.tables.readChanges(spark, path, baseVersion,
      Graft.tables.versions(path).last)
      .groupBy($"_change_type").count().as[(String, Long)].collect().toMap
    val got = (feed.getOrElse("insert", 0L),
      feed.getOrElse("update_preimage", 0L),
      feed.getOrElse("update_postimage", 0L), feed.getOrElse("delete", 0L))
    val want = (expInsert, expUpdate, expUpdate, expDelete)
    Seq(
      Check("final table == model of the op sequence",
        latest == model.values.toSeq.sorted,
        s"rows=${latest.size} model=${model.size}"),
      Check("asOf base version == base input", asOf == base.sorted,
        s"rows=${asOf.size} base=${base.length}"),
      Check("change feed counts == ops applied", got == want,
        s"insert/pre/post/delete got=$got want=$want"))
  }

  def inputProps: Seq[(String, String)] = Seq(
    "base_rows" -> Rows.toString, "base_files" -> Files.toString,
    "base_bytes" -> base.map(Inputs.rowBytes).sum.toString,
    "merge_batch" -> Batch.toString, "recent_merge_share" -> f"$RecentShare%.3f",
    "ops_per_pass" -> Template.length.toString)

  def info(t: Tracer): Seq[Info] =
    Workload.latency("merge_ms", Workload.callMs(t, "sources.merge")) ++
      Workload.latency("dml_ms",
        Workload.callMs(t, "sources.delete", "sources.update")).take(1) ++
      Workload.latency("read_ms", Workload.callMs(t, "sources.read",
        "sources.read_as_of", "sources.read_changes")) :+
      Info("write_amp", Workload.treeBytes(new File(path)).toDouble /
        submittedBytes, "ratio")
}

object Lake {
  private sealed trait Op
  private final case class Merge(rows: Seq[Inputs.Row4]) extends Op
  private final case class Delete(lo: Long, hi: Long) extends Op
  private final case class Update(mod: Int, rem: Int) extends Op
  private case object ReadLatest extends Op
  private case object ReadAsOf extends Op
  private case object ReadChanges extends Op
  private case object Optimize extends Op
}
