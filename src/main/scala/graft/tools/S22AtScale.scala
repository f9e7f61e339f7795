package graft.tools

import graft.core.Stages
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** One-off at-scale datapoint for s22 (NOTES.md): build the full k-NN
  * graph over a 1M-vector corpus with 5 planted near-copy pairs and
  * report the wall, the candidate-volume census, and planted edge
  * recall (each planted pair must be MUTUAL rank-1 edges).
  *
  * Knobs vs the gate defaults: per-node candidate work is
  * fineProbes·cellTarget, so on ONE box we shrink cells (cellTarget
  * 64, probes 2 → ~128 candidates/node ≈ 2.6e8 scored pairs at 1M)
  * where a 1000-executor cluster would keep cellTarget=1024/probes=4
  * and spread the identical total shape — the graph build is linear in
  * n either way, which is the number this tool certifies.
  *
  * Usage: runMain graft.tools.S22AtScale [nTotal [cellTarget [probes]]]
  */
object S22AtScale {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(1000000L)
    val cellTarget = args.lift(1).map(_.toLong).getOrElse(64L)
    val probes = args.lift(2).map(_.toInt).getOrElse(2)
    val spark = SparkSession.builder()
      .withExtensions(new graft.GraftExtensions)
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "64")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def time[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = f; (a, (System.nanoTime() - t0) / 1e9)
    }
    // uniform corpus + 5 planted near-copies of vectors 0-4 at the top
    // of the id space (the S12AtScale construction)
    def comp(id: org.apache.spark.sql.Column, i: org.apache.spark.sql.Column) =
      (pmod(xxhash64(id, i), lit(2000001L)).cast("double") / 1e6) - lit(1.0)
    val base = spark.range(n - 5).toDF("vec_id")
      .select(col("vec_id"),
        transform(sequence(lit(0), lit(63)), i => comp(col("vec_id"), i)).as("embedding"))
    val dups = spark.range(5).toDF("src")
      .select((col("src") + (n - 5)).as("vec_id"),
        transform(sequence(lit(0), lit(63)), i =>
          comp(col("src"), i) + lit(0.0005)).as("embedding"))
    val full = java.nio.file.Files.createTempDirectory("s22scale").toString
    base.unionAll(dups)
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
      .write.mode("overwrite").parquet(s"$full/embeddings.parquet")

    val sim = graft.operators.Similarity
    val (edges, buildSec) = time {
      val g = Stages.materialize(
        sim.s22GraphAt(spark, full, cellTarget, probes, sim.S22Pool))
      g.count()
      g
    }
    val nEdges = edges.count()
    // planted recall: each of the 5 pairs must be mutual rank-1
    val top1 = edges.filter(col("rnk") === 1 &&
        (col("src_id") >= n - 5 || col("src_id") < 5))
      .select("src_id", "dst_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val hits = (0L until 5L).count { i =>
      top1.get(i).contains(i + (n - 5)) && top1.get(i + (n - 5)).contains(i)
    }
    println(f"S22ATSCALE n=$n cell_target=$cellTarget probes=$probes " +
      f"build_sec=$buildSec%.1f n_edges=$nEdges " +
      f"edges_per_node=${nEdges.toDouble / n}%.2f planted_mutual_rank1=${hits / 5.0}%.2f")
    spark.stop()
  }
}
