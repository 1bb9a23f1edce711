package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame

/** The version protocol's torn-write guard, pinned once per store that
  * folds `v=N−1` forward: a predecessor without its `_SUCCESS` commit
  * marker fails the next batch fast, and replaying the torn batch (the
  * overwrite) recovers the store. A multi-leg store is torn when any
  * one leg is.
  */
class StoreProtocolSpec extends graft.SparkSuite {
  import spark.implicits._

  /** (store, leg whose marker the crash lost ("" = the version dir),
    * batch i of the store's fixture written to `dir` as batch i)
    */
  private val stores: Seq[(String, String, (Int, String) => DataFrame)] = Seq(
    ("IncrementalComponents", "", { (i, dir) =>
      val edges = Seq(Seq((1L, 2L)), Seq((2L, 3L), (5L, 6L)), Seq((6L, 1L)))
      IncrementalComponents.processBatch(edges(i).toDF("s", "t"), i, dir)
    }),
    ("IncrementalForecast", "", { (i, dir) =>
      val obs = Seq(Seq(("a", 0L, 10L), ("b", 0L, 7L)), Seq(("a", 1L, 12L)),
        Seq(("a", 2L, 15L), ("b", 2L, 9L)))
      IncrementalForecast.processBatch(obs(i).toDF("k", "t", "v"), i, dir,
        Seq("k"), "t", "v", 0.5, 0.3)
    }),
    ("IncrementalCooccur", "parts", { (i, dir) =>
      val lines = Seq(Seq((1L, 10L), (1L, 11L)), Seq((2L, 10L), (2L, 12L)),
        Seq((3L, 11L), (3L, 12L)))
      IncrementalCooccur.processBatch(lines(i).toDF("l_orderkey", "l_partkey"), i, dir)
      val (pairs, _, _) = IncrementalCooccur.readStore(spark, dir, i + 1)
      pairs
    }))

  for ((store, leg, batch) <- stores)
    test(s"$store: a torn predecessor fails fast; replaying the torn batch recovers") {
      val dir = Files.createTempDirectory("store_torn").toString
      def image(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
      batch(0, dir)
      val first = image(batch(1, dir))
      val clean = image(batch(2, dir))
      Files.delete(Paths.get(s"$dir/v=1", leg, "_SUCCESS"))
      val torn = intercept[IllegalStateException] { batch(2, dir) }
      assert(torn.getMessage.contains(s"$store store version torn") &&
        torn.getMessage.contains("Replay batch 1"), torn.getMessage)
      assert(image(batch(1, dir)) == first, "replay after torn write drifted")
      assert(image(batch(2, dir)) == clean, "recovered store != uninterrupted store")
    }
}
