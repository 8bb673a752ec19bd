package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic scale-up generator: writes an sf1-equivalent dataset
  * (10× sf0.1) as the union of `copies` key-shifted replicas of the source
  * tables. Dimension tables (region, nation) are invariant; every synthetic
  * key column is shifted by `copy * 1e9` so referential integrity (orders→
  * customer, lineitem→{orders,part,supplier}, events→users) is preserved
  * copy-by-copy and distributions (selectivities, group sizes, `id % k`
  * bucketing) are IDENTICAL to the source — a pure cardinality scale-up,
  * which is exactly what a 10× scaling measurement needs. Text/embedding
  * payloads are left byte-identical, so the dedup family sees realistic
  * duplicate mass (each doc gains 9 exact replicas).
  *
  * Usage: runMain graft.GenScale [srcDir dstDir copies]
  * Defaults: /root/testdata/sf0.1 → /root/repo/testdata/sf1 × 10.
  */
object GenScale {
  private val Off = 1_000_000_000L

  private val shiftCols: Map[String, Seq[String]] = Map(
    // NOTE on the offset (round-12 postmortem): a FIXED 1e9 shift is only
    // collision-free for ONE scale-up level. Applying it twice
    // (sf0.1→sf1→sf10) folded copy c2 of decade c1 onto copy c1+c2·... of
    // another decade — sf10 documents had 500k rows but only 95k distinct
    // doc_ids, and every keyed-join oracle fan-out semantics diverged
    // (q_bm25_topk's dl join fanned 10× at sf10 while sf1 stayed green).
    // The offset is now derived per run: the smallest power of 10 strictly
    // greater than every key in the source, floored at 1e9 so the
    // single-level sf1 output stays byte-identical to prior rounds.
    "region" -> Nil,
    "nation" -> Nil,
    "customer" -> Seq("c_custkey"),
    "supplier" -> Seq("s_suppkey"),
    "part" -> Seq("p_partkey"),
    "orders" -> Seq("o_orderkey", "o_custkey"),
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "events" -> Seq("event_id", "user_id"),
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"))

  private def scaled(df: DataFrame, keys: Seq[String], copies: Int,
      off: Long): DataFrame =
    if (keys.isEmpty) df
    else (0 until copies).map { i =>
      keys.foldLeft(df)((d, k) => d.withColumn(k, col(k) + lit(i * off)))
    }.reduce(_ unionByName _)

  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val dst = if (args.length > 1) args(1) else "/root/repo/testdata/sf1"
    val copies = if (args.length > 2) args(2).toInt else 10
    val spark = Session.local(cpus = 8)
    // the driver's events.parquet is TIMESTAMP(NANOS) — read the nanos as
    // int64 (same trick as Tables.events)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // collision-free shift: strictly above every key in the source
    val globalMax = shiftCols.toSeq.flatMap { case (t, keys) =>
      if (keys.isEmpty) Nil
      else {
        val aggs = keys.map(k => max(col(k).cast("long")).as(k))
        val row = spark.read.parquet(s"$src/$t.parquet")
          .agg(aggs.head, aggs.tail: _*).head()
        keys.indices.map(row.getLong(_))
      }
    }.max
    var off = Off
    while (off <= globalMax) off *= 10
    println(s"  key shift offset: $off (max source key $globalMax)")
    shiftCols.foreach { case (t, keys) =>
      val raw = spark.read.parquet(s"$src/$t.parquet")
      // events' ts is rewritten as a plain µs TIMESTAMP so both Spark
      // (Tables.events' timestamp branch) and the DuckDB oracle read the
      // scaled copy directly. Branch on the actual column type (like
      // Tables.events) so GenScale can also re-scale an already-generated
      // directory whose ts is a timestamp already.
      val df = raw.schema.find(_.name == "ts").map(_.dataType) match {
        case Some(org.apache.spark.sql.types.LongType) =>
          raw.withColumn("ts", timestamp_micros(expr("ts div 1000L")))
        case _ => raw
      }
      scaled(df, keys, copies, off)
        .write.mode("overwrite").parquet(s"$dst/$t.parquet")
      println(s"  wrote $dst/$t.parquet")
    }
    spark.stop()
  }
}
