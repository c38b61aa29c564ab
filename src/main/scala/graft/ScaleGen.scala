package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev-only scale inflater: writes an N× copy of a testdata dir for
  * scaling spot-benchmarks (`BENCH_SF1.json`), since the driver ships no
  * sf1 data. NOT part of the engine.
  *
  * Each table becomes N key-shifted replicas (stride 1e9 keeps replica
  * key spaces disjoint), so every foreign-key relationship stays
  * replica-local and join/group cardinalities scale exactly linearly —
  * the data shape a real N× corpus would have, not an N× hot spot:
  *   - fact keys (custkey, orderkey, partkey, suppkey, event/user/doc/vec
  *     ids) shift per replica; nation/region stay single-copy dims
  *     (their keys are NOT shifted in facts — dims are shared, like a
  *     real warehouse).
  *   - document text gets a per-replica salt token (replica 0 verbatim),
  *     otherwise every doc would acquire N-1 exact duplicates and the
  *     dedup benchmarks would measure an artifact of the inflation
  *     (cluster pair counts grow as N², not the engine).
  *   - timestamps/values/vectors are unchanged: per-key and per-day
  *     densities are preserved, total volume ×N.
  *
  * Usage: runMain graft.ScaleGen <srcDir> <outDir> <factor>
  */
object ScaleGen {
  private val Stride = 1000000000L

  def main(args: Array[String]): Unit = {
    val Array(srcDir, outDir, factorS) = args
    val factor = factorS.toInt
    val spark = GraftSession.create()

    val shifted: Map[String, Seq[String]] = Map(
      "customer"   -> Seq("c_custkey"),
      "supplier"   -> Seq("s_suppkey"),
      "part"       -> Seq("p_partkey"),
      "orders"     -> Seq("o_orderkey", "o_custkey"),
      "lineitem"   -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
      "events"     -> Seq("event_id", "user_id"),
      "documents"  -> Seq("doc_id"),
      "embeddings" -> Seq("vec_id"),
      "region"     -> Nil,
      "nation"     -> Nil)

    shifted.foreach { case (name, keys) =>
      val src = Tables.table(spark, srcDir, name)
      val out =
        if (keys.isEmpty) src // shared dims: single copy
        else {
          val rep = src.withColumn("_r", explode(sequence(lit(0), lit(factor - 1))))
          val keyed = keys.foldLeft(rep)((df, k) =>
            df.withColumn(k, col(k) + col("_r").cast("long") * Stride))
          val salted =
            if (name == "documents")
              keyed.withColumn("text",
                when(col("_r") === 0, col("text"))
                  .otherwise(concat(col("text"), lit(" r"), col("_r"))))
            else keyed
          salted.drop("_r")
        }
      out.write.mode("overwrite").parquet(s"$outDir/$name.parquet")
      println(s"[scalegen] $name -> $outDir/$name.parquet")
    }
    spark.stop()
  }
}
