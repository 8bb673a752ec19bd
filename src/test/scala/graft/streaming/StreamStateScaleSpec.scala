package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import StreamHolt.DailyPoint

/** State-scale contract of the transformWithState operators (round-11
  * verdict #8, keys-scaled fixture): a micro-batch must touch state in
  * proportion to the keys IN THE BATCH, never sweep the full store. The
  * engine's own StateOperatorProgress is the witness: after seeding
  * `nKeys`, a delta batch over `delta` keys must report
  * `numRowsUpdated == delta` while `numRowsTotal` stays `nKeys`. The
  * 1M-key measurement lives in `graft.Tool statescale` (BASELINE.md); this
  * spec pins the invariant at suite scale so a regression (an operator
  * rewrite that iterates the store, a state-format change that rewrites
  * all rows) fails fast.
  */
class StreamStateScaleSpec extends SparkSpec {
  import spark.implicits._

  private val nKeys = 20000
  private val delta = 500

  private def obs(k: Int, day: Long): DailyPoint =
    DailyPoint(f"k$k%07d", day, 1000L + (k % 97) * 3L + day * 5L)

  test("delta batch updates exactly its keys; store keeps all keys") {
    val prev = spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      implicit val sqlCtx = spark.sqlContext
      val input = MemoryStream[DailyPoint]
      val q = StreamHolt.smoothed(input.toDS())
        .writeStream.format("noop").outputMode("append").start()
      try {
        input.addData((0 until nKeys).map(obs(_, 0L)))
        q.processAllAvailable()
        val seed = q.lastProgress.stateOperators
        assert(seed.nonEmpty)
        assert(seed(0).numRowsUpdated == nKeys)
        assert(seed(0).numRowsTotal == nKeys)

        input.addData((0 until delta).map(obs(_, 1L)))
        q.processAllAvailable()
        val d = q.lastProgress.stateOperators
        assert(d(0).numRowsUpdated == delta,
          s"delta batch touched ${d(0).numRowsUpdated} state rows, " +
            s"expected exactly $delta (full-store sweep?)")
        assert(d(0).numRowsTotal == nKeys)
      } finally q.stop()
    } finally {
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      prev.foreach(spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass", _))
    }
  }
}
