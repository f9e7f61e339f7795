package perfbench

import org.apache.spark.sql.SparkSession

/** Runs one workload in this JVM and writes its raw figures as JSON.
  *
  * Usage: perfbench.Harness <workload> <seed> <seconds> <trace 0|1> <workDir> <cores> <out.json> <trace.json>
  *
  * Set-up (session start, `Reps` input builds of which the median
  * counts, one-time preparation, untimed warm-up passes) is followed by
  * closed-loop passes until `seconds` have gone by. Untraced, every pass
  * feeds the end-to-end figures. Traced, passes alternate between
  * untraced and traced, so the traced-versus-untraced delta is measured
  * in the same process; set-up is never traced. The spans are written to
  * <trace.json> at the end. */
object Harness {
  /** Sizes of the three workloads. */
  val IngestLines = 250000L
  val LookupLines = 250000L
  val CurationDocs = 600
  /** Input builds per run; their median counts toward setup_s. */
  val Reps = 3

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, work, coresS, outPath, tracePath) = args
    val seed = seedS.toLong
    val trace = traceS == "1"
    val cores = coresS.toInt
    val spark = SparkSession.builder()
      .withExtensions(new graft.GraftExtensions)
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0

    val w: Workload = workload match {
      case "ingest_ndv01" => new IngestWorkload(spark, work, IngestLines, 0.1, seed)
      case "lookup_ndv1" => new LookupWorkload(spark, work, LookupLines, 1.0, seed)
      case "curation_ops" => new CurationWorkload(spark, work, CurationDocs, seed)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val tr = new Tracer(spark.sparkContext)
    val calls = new Calls(tr)

    // set-up, never traced
    val builds = (0 until Reps).map { _ =>
      tr.span("setup.build")(w.build(tr))
      tr.flush()
    }
    val buildS = Workload.median(builds.map(_.find(_.name == "setup.build").get.seconds))
    val genS = Workload.median(builds.flatMap(_.filter(_.name == "gen")).map(_.seconds))
    val prepareS = tr.span("setup.prepare")(w.prepare(tr))._2.seconds
    calls.counting = false
    val warmS = tr.span("setup.warm") {
      w.small.foreach { s =>
        s.build(tr)
        s.prepare(tr)
        for (_ <- 1 to Workload.SmallPasses) s.pass(tr, calls)
      }
      w.warm(tr, calls)
      for (_ <- 1 until w.warmPasses) w.pass(tr, calls)
    }._2.seconds
    tr.flush()
    calls.counting = true
    System.err.println(f"[perfbench] session $sessionS%.3f s, build $buildS%.3f s, prepare $prepareS%.3f s, warm $warmS%.3f s")
    val setupS = sessionS + buildS + prepareS + warmS

    // timed closed loop
    val deadline = System.nanoTime() + (secondsS.toDouble * 1e9).toLong
    val passes = scala.collection.mutable.ArrayBuffer.empty[(Boolean, Seq[Span])]
    while (passes.size < (if (trace) 2 else 1) || System.nanoTime() < deadline) {
      val traced = trace && passes.size % 2 == 1
      tr.setTracing(traced)
      tr.span("pass")(w.pass(tr, calls))
      passes += traced -> tr.flush()
    }
    tr.setTracing(false)
    val peakRssMb = vmHwmMb()

    val checks = w.checks()
    val untraced = passes.filterNot(_._1).map(_._2).toSeq
    val tracedPasses = passes.filter(_._1).map(_._2).toSeq
    def callSum(p: Seq[Span], f: Span => Double) = p.filter(_.name.startsWith("call:")).map(f).sum
    val passS = Workload.median(untraced.map(callSum(_, _.seconds)))
    val cpuS = Workload.median(untraced.map(callSum(_, _.cpuSeconds)))
    val e2e = Map(
      "setup_s" -> (setupS, "s"),
      "pass_s" -> (passS, "s"),
      "cpu_s" -> (cpuS, "s"),
      "peak_rss_mb" -> (peakRssMb, "MB"))
    val figures = w.figures(untraced)

    val layer: Map[String, Double] = if (!trace) Map.empty else {
      def medOf(f: Seq[Span] => Double) = Workload.median(tracedPasses.map(f))
      val perPass = tracedPasses.map(p => w.layers(p) ++ Map(
        "spark.jobs" -> callSum(p, _.counters.getOrElse("jobs", 0.0)),
        "spark.gc_s" -> callSum(p, _.counters.getOrElse("gc_s", 0.0))))
      val keys = perPass.flatMap(_.keys).distinct
      val reported = keys.map(k => k -> Workload.median(perPass.map(_(k)))).toMap ++ Map(
        "gen.s" -> genS,
        "trace.overhead.pass_s" -> (medOf(callSum(_, _.seconds)) / passS - 1),
        "trace.overhead.cpu_s" -> (medOf(callSum(_, _.cpuSeconds)) / cpuS - 1),
        "trace.peak_rss_mb" -> peakRssMb)
      // every workload reports every layer; an idle layer reads 0
      LayerNames.map(k => k -> reported.getOrElse(k, 0.0)).toMap
    }

    val out = new StringBuilder("{")
    def metrics(m: Map[String, (Double, String)]) = m.toSeq.sortBy(_._1).map { case (k, (v, u)) =>
      s"${Json.str(k)}:{\"value\":${Json.num(v)},\"unit\":${Json.str(u)}}"
    }.mkString("{", ",", "}")
    out ++= s""""workload":${Json.str(workload)},"seed":$seed,"passes":${passes.size},"""
    out ++= s""""end_to_end":${metrics(e2e)},"figures":${metrics(figures)},"""
    out ++= s""""per_layer":${metrics(layer.map { case (k, v) => k -> (v, layerUnit(k)) })},"""
    out ++= s""""attempted":${calls.attempted.toSeq.sortBy(_._1).map { case (k, v) => s"${Json.str(k)}:$v" }.mkString("{", ",", "}")},"""
    out ++= s""""failed":${calls.failed.toSeq.sortBy(_._1).map { case (k, v) => s"${Json.str(k)}:$v" }.mkString("{", ",", "}")},"""
    out ++= s""""checks":${checks.map(c => s"""{"name":${Json.str(c.name)},"subject":${Json.str(c.subject)},"ok":${c.ok},"detail":${Json.str(c.detail)}}""").mkString("[", ",", "]")}"""
    out ++= "}\n"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath), out.toString)
    if (trace) java.nio.file.Files.writeString(java.nio.file.Paths.get(tracePath), tr.toJson)

    // the maintenance thread must stop before SparkEnv goes away
    org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    spark.stop()
  }

  private val CodecNames = Workload.Codecs4.map(_.name)
  private val PathKeys = Workload.Paths.map(Workload.pathKey)

  /** Every per-layer metric, in the order the benchmark doc lists them. */
  val LayerNames: Seq[String] =
    Seq("gen.s", "io.ndjson_scan_s") ++
      CodecNames.flatMap(c => Seq(s"io.flush_s.$c", s"codec.encode_s.$c", s"io.bytes_written.$c",
        s"io.load_s.$c", s"codec.decode_s.$c")) ++
      (for (c <- CodecNames; p <- PathKeys) yield Seq(s"codec.get_s.$c.$p", s"io.scan_bytes.$c.$p")).flatten ++
      Curation.Queries.flatMap(q => (Seq("wall_s") ++ Curation.Counters).map(k => s"op.$k.$q")) ++
      Seq("spark.jobs", "spark.gc_s", "trace.overhead.pass_s", "trace.overhead.cpu_s",
        "trace.peak_rss_mb")

  def layerUnit(k: String): String =
    if (k.startsWith("trace.overhead.")) "ratio"
    else if (k == "trace.peak_rss_mb") "MB"
    else if (k.contains("bytes")) "bytes"
    else if (k.startsWith("op.jobs") || k.startsWith("op.stages") || k.startsWith("op.tasks") ||
      k.startsWith("op.persisted") || k == "spark.jobs") "count"
    else "s"

  /** The process's peak resident set (VmHWM) in MB. */
  def vmHwmMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst { case l if l.startsWith("VmHWM:") =>
      l.split("\\s+")(1).toDouble * 1024 / 1e6
    }.getOrElse(Double.NaN) finally src.close()
  }

  def deleteTree(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
