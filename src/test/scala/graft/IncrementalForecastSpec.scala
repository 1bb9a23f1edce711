package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.streaming.IncrementalForecast

/** The incrementally maintained Holt state must be BIT-IDENTICAL to
  * [[graft.ops.Forecast.holtBacktest]] over the union of every batch
  * so far — through key births, carry-forward on quiet batches, and
  * crash replays — while each batch reads only the state store (one
  * row per key), never the observation history. Out-of-order feeds
  * must fail loudly, not splice silently.
  */
class IncrementalForecastSpec extends SparkSuite {

  import spark.implicits._

  private val keys = Seq("k")
  private val (alpha, beta) = (0.5, 0.3)

  private def store(): String =
    Files.createTempDirectory("graft_fc").toString

  private def proc(df: org.apache.spark.sql.DataFrame, id: Long, dir: String) =
    IncrementalForecast.processBatch(df, id, dir, keys, "t", "v", alpha, beta)

  private def bt(dir: String, id: Long): Map[String, (Long, Double, Double, Double)] =
    IncrementalForecast.backtest(spark, dir, id, keys)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap

  private def batchTwin(df: org.apache.spark.sql.DataFrame) =
    graft.ops.Forecast.holtBacktest(df, keys, "t", "v", alpha, beta)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap

  test("state tracks births, carries forward on quiet batches, and equals the batch fold exactly") {
    val dir = store()
    // batch 0: key a born with 3 points, key b with 1 (fresh init path)
    val b0 = Seq(("a", 0L, 10L), ("a", 1L, 12L), ("a", 2L, 14L),
      ("b", 0L, 7L)).toDF("k", "t", "v")
    proc(b0, 0, dir)
    assert(bt(dir, 0) == batchTwin(b0), "after batch 0")
    // batch 1: only a advances; b must carry forward UNTOUCHED
    val b1 = Seq(("a", 3L, 16L), ("a", 4L, 18L)).toDF("k", "t", "v")
    proc(b1, 1, dir)
    val h1 = b0.unionByName(b1)
    assert(bt(dir, 1) == batchTwin(h1), "after batch 1")
    // batch 2: b resumes after the quiet batch, c is born mid-stream
    val b2 = Seq(("b", 5L, 9L), ("c", 5L, 3L), ("c", 6L, 4L))
      .toDF("k", "t", "v")
    proc(b2, 2, dir)
    val h2 = h1.unionByName(b2)
    val inc = bt(dir, 2)
    assert(inc == batchTwin(h2), "after batch 2")
    // and the n_obs bookkeeping matches the histories
    assert(inc("a")._1 == 5 && inc("b")._1 == 2 && inc("c")._1 == 2)
  }

  test("a crash-replayed batch rewrites an identical version; missing predecessor and out-of-order data fail fast") {
    val dir = store()
    val b0 = Seq(("a", 0L, 10L), ("a", 1L, 12L)).toDF("k", "t", "v")
    val b1 = Seq(("a", 2L, 14L)).toDF("k", "t", "v")
    proc(b0, 0, dir)
    proc(b1, 1, dir)
    val first = bt(dir, 1)
    // replay of batch 1: derived purely from v=0 + the batch
    proc(b1, 1, dir)
    assert(bt(dir, 1) == first && first == batchTwin(b0.unionByName(b1)))
    // a non-initial batch with no predecessor version refuses to run
    val orphan = intercept[IllegalStateException] {
      proc(b0, 7, store())
    }
    assert(orphan.getMessage.contains("store version missing"))
    // an observation at or before the stored max time would splice
    // mid-history and break fold equivalence -> the guard throws
    val late = Seq(("a", 2L, 99L)).toDF("k", "t", "v")
    val ex = intercept[Exception] { proc(late, 2, dir) }
    assert(ex.getMessage.contains("out-of-order"),
      s"guard message: ${ex.getMessage}")
  }

  test("backtest refuses a torn version instead of reading its partial files") {
    val dir = store()
    proc(Seq(("a", 0L, 10L), ("a", 1L, 12L)).toDF("k", "t", "v"), 0, dir)
    Files.delete(java.nio.file.Paths.get(s"$dir/v=0/_SUCCESS"))
    val torn = intercept[IllegalStateException] { bt(dir, 0) }
    assert(torn.getMessage.contains("store version torn"), torn.getMessage)
  }
}
