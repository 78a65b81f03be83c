package perfbench

import org.apache.spark.sql.{Row, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.Q

class DigestSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = {
    val s = SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", "3").config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  override def afterAll(): Unit = spark.stop()

  private val rows = Seq(Row(1L, "a", 0.5), Row(2L, "b", null), Row(3L, "c", Double.NaN))

  test("digest is order-sensitive") {
    assert(Digest.of(rows) != Digest.of(rows.reverse))
    assert(Digest.of(rows)._2 != Digest.of(Seq(rows(1), rows(0), rows(2)))._2)
  }

  test("digest sees values and types, not only their text") {
    assert(Digest.of(Seq(Row(1))) != Digest.of(Seq(Row(1L))))
    assert(Digest.of(Seq(Row("1"))) != Digest.of(Seq(Row(1L))))
    assert(Digest.of(Seq(Row("ab", "c"))) != Digest.of(Seq(Row("a", "bc"))))
    assert(Digest.of(Seq(Row(0.0))) != Digest.of(Seq(Row(-0.0))))
    assert(Digest.of(Seq(Row(null))) != Digest.of(Seq(Row("null"))))
  }

  test("digest of equal rows is equal, whichever objects hold them") {
    val copy = rows.map(r => Row.fromSeq(r.toSeq))
    assert(Digest.of(rows) == Digest.of(copy))
    assert(Digest.of(rows)._1 == 3)
  }

  test("digest is stable across repeated runs of one result") {
    import org.apache.spark.sql.functions._
    val df = spark.range(0, 500, 1, 7)
      .select((col("id") % 17).as("k"), (col("id") * 1.5).as("v"), col("id").cast("string").as("s"))
      .groupBy("k").agg(sum("v").as("sv"), max("s").as("ms"), collect_list("s").as("all"))
      .select(col("k"), col("sv"), col("ms"), array_sort(col("all")).as("all"))
      .orderBy("k")
    val first = Digest.of(df.collect())
    (1 to 3).foreach(_ => assert(Digest.of(df.collect()) == first))
    assert(Digest.of(df.orderBy(col("k").desc).collect()) != first)
  }

  test("a thrown query and a digest mismatch both count in failed_frac") {
    val good = Q("q_good", (s, _) => s.range(5).toDF("id").orderBy("id"))
    val wrong = Q("q_wrong", (s, _) => s.range(6).toDF("id").orderBy("id"))
    val boom = Q("q_boom", (_, _) => throw new IllegalStateException("boom"))
    val want = Digest.of(spark.range(5).toDF("id").orderBy("id").collect())
    val goldens = Map("q_good" -> want, "q_wrong" -> want, "q_boom" -> want)
    val h = new Harness(spark, "unused", new Tracer(false), goldens)
    val runs = Seq(good, wrong, boom, good).map(h.run(_, withPlan = false))
    assert(runs.map(_.outcome.getClass.getSimpleName) ==
      Seq("Matched$", "Mismatched", "Threw", "Matched$"))
    val t = Stats.tally(runs.map(r => r.id -> r.outcome))
    assert(t.failedFrac == 0.5)
    assert(t.failedIds == Seq("q_boom", "q_wrong"))
    assert(runs.forall(_.latencyNs > 0))
  }
}
