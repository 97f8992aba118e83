package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.api.Graft

class InputsSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.extensions",
      "org.apache.spark.sql.graftx.GraftExtensions")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  /** Each workload's generated inputs as DataFrames, at reduced sizes. */
  private def inputs(seed: Long): Map[String, DataFrame] = {
    val s = spark
    import s.implicits._
    val c = Inputs.corpus(seed, 500, 0.06, 0.10)
    val v = Inputs.vectors(seed, 300, 20, 16, 8)
    val ops = (0 until 20).map { i =>
      val r = Inputs.lakeOpRng(seed, i)
      (i, r.nextLong(), r.nextDouble())
    }
    Map(
      "curate.docs" -> c.docs.toDF("doc_id", "text"),
      "curate.planted" -> (c.exactPairs.map(p => (p._1, p._2, "exact")) ++
        c.nearPairs.map(p => (p._1, p._2, "near"))).toDF("a", "b", "kind"),
      "materials.seeds" -> spark.createDataset(Inputs.supercellSeeds(seed, 12))
        .toDF(),
      "lake.base" -> Inputs.lakeBase(seed, 2000).toDF("key", "grp", "val", "payload"),
      "lake.ops" -> ops.toDF("op", "l", "d"),
      "curate.vectors" -> v.corpus.map(x => (x._1, x._2.toSeq)).toDF("id", "v"),
      "curate.queries" -> v.queries.map(x => (x._1, x._2.toSeq)).toDF("id", "v"))
  }

  private def hashes(seed: Long): Map[String, String] =
    inputs(seed).map { case (k, df) => k -> Graft.hashing.tableHash(df) }

  test("one seed regenerates identical inputs; another seed differs") {
    val a = hashes(7L)
    val b = hashes(7L)
    val c = hashes(8L)
    assert(a == b)
    a.keys.foreach(k => assert(a(k) != c(k), s"$k did not change with the seed"))
  }

  test("planted duplicates copy an earlier original") {
    val c = Inputs.corpus(3L, 2000, 0.06, 0.10)
    val text = c.docs.toMap
    assert(c.exactPairs.nonEmpty && c.nearPairs.nonEmpty)
    c.exactPairs.foreach { case (o, d) =>
      assert(o < d && text(o) == text(d))
    }
    c.nearPairs.foreach { case (o, d) =>
      val (x, y) = (text(o).split(" "), text(d).split(" "))
      assert(o < d && x.length == y.length)
      assert(x.zip(y).count { case (p, q) => p != q } == 1)
    }
  }
}
