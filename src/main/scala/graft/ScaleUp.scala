package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Local scale-ramp data generator: writes an N× copy of a testdata scale
  * factor with consistently re-keyed ids, for measuring how query cost
  * scales one decade up (BENCH_sf1.json vs the sf0.1 baseline).
  *
  * Usage: runMain graft.ScaleUp <srcDir> <dstDir> <factor>
  * (SPARK_GRAFT_CPUS, default this host's cores).
  *
  * Each copy i offsets every key/foreign-key column by i × (max(key)+1) of
  * the owning table, so referential integrity holds within a copy and no
  * ids collide across copies — joins fan out exactly N×, never N²×.
  * Dimension tables (region, nation) keep their real-world cardinality. */
object ScaleUp {

  def main(args: Array[String]): Unit = {
    val Array(src, dst, factorS) = args.take(3)
    val factor = factorS.toInt
    val spark = GraftSession.local()

    def off(table: String, key: String): Long =
      spark.read.parquet(s"$src/$table.parquet")
        .agg(max(col(key))).head().getLong(0) + 1L

    val custOff = off("customer", "c_custkey")
    val suppOff = off("supplier", "s_suppkey")
    val partOff = off("part", "p_partkey")
    val orderOff = off("orders", "o_orderkey")
    val eventOff = off("events", "event_id")
    val userOff = off("events", "user_id")
    val docOff = off("documents", "doc_id")
    val vecOff = off("embeddings", "vec_id")

    val keyed: Seq[(String, Map[String, Long])] = Seq(
      "customer" -> Map("c_custkey" -> custOff),
      "supplier" -> Map("s_suppkey" -> suppOff),
      "part" -> Map("p_partkey" -> partOff),
      "orders" -> Map("o_orderkey" -> orderOff, "o_custkey" -> custOff),
      "lineitem" -> Map("l_orderkey" -> orderOff, "l_partkey" -> partOff,
        "l_suppkey" -> suppOff),
      "events" -> Map("event_id" -> eventOff, "user_id" -> userOff),
      "documents" -> Map("doc_id" -> docOff),
      "embeddings" -> Map("vec_id" -> vecOff))

    for (t <- Seq("region", "nation"))
      spark.read.parquet(s"$src/$t.parquet")
        .write.mode("overwrite").parquet(s"$dst/$t.parquet")

    for ((t, offsets) <- keyed) {
      val df = spark.read.parquet(s"$src/$t.parquet")
      scaled(df, offsets, factor)
        .write.mode("overwrite").parquet(s"$dst/$t.parquet")
      println(s"scaled $t x$factor")
    }
    spark.stop()
  }

  /** N copies of `df` with each key column shifted per copy. */
  def scaled(df: DataFrame, offsets: Map[String, Long], factor: Int): DataFrame = {
    val out = df.columns.map { c =>
      offsets.get(c)
        .map(o => (col(c) + col("_copy") * o).as(c))
        .getOrElse(col(c))
    }
    df.withColumn("_copy", explode(sequence(lit(0L), lit(factor - 1L))))
      .select(out.toIndexedSeq: _*)
  }
}
