package graft.tools

import graft.core.Stages
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** One-off at-scale datapoint for the GRAPH LIFECYCLE (NOTES.md):
  * build the s22 k-NN graph over a 1M-vector corpus, occlusion-prune
  * it to [[graft.operators.Similarity.S24Degree]] edges (s24), then
  * serve the 10-query batch through BOTH graphs with the identical
  * probe-seeded beam walk (s23/s25) and report: prune wall, edge
  * counts before/after (the store-size claim), serve walls, and
  * planted recall@1 through the PRUNED walk — each query 0-4's
  * near-copy (planted at the top of the id space) must surface at
  * rank 1 after losing 40% of the edge slots.
  *
  * Same corpus construction and knob rationale as [[S22AtScale]]
  * (cellTarget 64 / probes 2 on one box where a 1000-executor cluster
  * keeps 1024/4 — linear-total-work either way).
  *
  * Usage: runMain graft.tools.S25AtScale [nTotal [cellTarget [probes]]]
  */
object S25AtScale {
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
    // the S12AtScale/S22AtScale construction: uniform corpus + 5
    // planted near-copies of vectors 0-4 at the top of the id space
    def comp(id: org.apache.spark.sql.Column, i: org.apache.spark.sql.Column) =
      (pmod(xxhash64(id, i), lit(2000001L)).cast("double") / 1e6) - lit(1.0)
    val base = spark.range(n - 5).toDF("vec_id")
      .select(col("vec_id"),
        transform(sequence(lit(0), lit(63)), i => comp(col("vec_id"), i)).as("embedding"))
    val dups = spark.range(5).toDF("src")
      .select((col("src") + (n - 5)).as("vec_id"),
        transform(sequence(lit(0), lit(63)), i =>
          comp(col("src"), i) + lit(0.0005)).as("embedding"))
    val full = java.nio.file.Files.createTempDirectory("s25scale").toString
    base.unionAll(dups)
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
      .write.mode("overwrite").parquet(s"$full/embeddings.parquet")

    val sim = graft.operators.Similarity
    val (g, buildSec) = time {
      val g0 = Stages.materialize(
        sim.s22GraphAt(spark, full, cellTarget, probes, sim.S22Pool))
      g0.count(); g0
    }
    val nRaw = g.count()
    val all = sim.emb(spark, full)
    val (pruned, pruneSec) = time {
      val p = Stages.materialize(sim.s24PruneOver(g, all, sim.S24Degree)
        .select(col("src_id"), col("dst_id")))
      p.count(); p
    }
    val nPruned = pruned.count()
    // the serve seed through the SAME cell-target's model the build
    // trained (cached by twoLevelModel) — the gate discipline
    val (k1, k2) = sim.d12FactorsAt(n, cellTarget)
    val (cc, fc, assigned) = sim.twoLevelModel(spark, full, k1, k2, sim.LloydRounds)
    val seed = Stages.materialize(sim.s23SeedOver(
      sim.probeCells(spark, full, cc, fc, k2), assigned, sim.S23Beam))
    def serve(edges: org.apache.spark.sql.DataFrame): (Map[Long, Long], Double) = {
      val (rows, sec) = time {
        sim.s23Serve(spark, all, edges,
          seed, sim.S23Rounds, sim.S23Beam).collect()
      }
      (rows.filter(_.getLong(1) == 1L)
        .map(r => r.getLong(0) -> r.getLong(2)).toMap, sec)
    }
    val (rawTop1, rawSec) = serve(g.select(col("src_id"), col("dst_id")))
    val (prTop1, prSec) = serve(pruned)
    def recall(top1: Map[Long, Long]): Double =
      (0L until 5L).count(i => top1.get(i).contains(i + (n - 5))) / 5.0
    println(f"S25ATSCALE n=$n cell_target=$cellTarget probes=$probes " +
      f"build_sec=$buildSec%.1f prune_sec=$pruneSec%.1f " +
      f"edges_raw=$nRaw edges_pruned=$nPruned " +
      f"store_ratio=${nPruned.toDouble / nRaw}%.2f " +
      f"serve_raw_sec=$rawSec%.1f serve_pruned_sec=$prSec%.1f " +
      f"planted_rank1_raw=${recall(rawTop1)}%.2f " +
      f"planted_rank1_pruned=${recall(prTop1)}%.2f")
    spark.stop()
  }
}
