package perfbench

import graft.codecs.{Codecs, JsonCodec}
import graft.core.IO
import graft.gen.EventsGenerator
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A correctness check made after the timed region. `subject` names the
  * codec or query whose calls the check vouches for: when it fails,
  * every call on that subject counts as wrong. */
final case class Check(name: String, subject: String, ok: Boolean, detail: String)

/** One workload: a fixed set of calls issued one at a time by a single
  * caller (a closed loop). Each timed call is a top-level span named
  * `call:<key>`; with tracing on, a pass also times each layer against
  * a materialized upstream, in spans named after the layer. */
trait Workload {
  /** Builds the inputs from the seed; repeated, and the median counts
    * toward setup_s. */
  def build(tr: Tracer): Unit
  /** One-time set-up after the builds (the lookup stores). */
  def prepare(tr: Tracer): Unit = ()
  /** A copy at a small size. Its passes warm the JIT (planner, codegen,
    * executor loops) cheaply before the full-size warm-up; None where a
    * pass costs the same at any size. */
  def small: Option[Workload] = None
  /** The untimed first full-size pass; also leaves what the checks read. */
  def warm(tr: Tracer, calls: Calls): Unit = pass(tr, calls)
  /** Full-size warm-up passes: `warm`, then plain passes. */
  def warmPasses: Int = 1
  def pass(tr: Tracer, calls: Calls): Unit
  def checks(): Seq[Check]
  /** The workload's own end-to-end figures, from the untraced passes. */
  def figures(untraced: Seq[Seq[Span]]): Map[String, (Double, String)]
  /** Per-layer figures of one traced pass (all spans of that pass). */
  def layers(pass: Seq[Span]): Map[String, Double]
}

/** Runs calls, counting attempts and failures per subject. */
final class Calls(tr: Tracer) {
  val attempted = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
  val failed = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
  var counting = true

  def apply(key: String, subject: String)(f: => Unit): Span = {
    if (counting) attempted(subject) += 1
    val s = tr.span(s"call:$key") {
      try f catch { case e: Throwable =>
        if (counting) failed(subject) += 1
        System.err.println(s"[perfbench] call $key failed: $e")
      }
    }._2
    System.err.println(f"[perfbench] call $key ${s.seconds}%.3f s")
    s
  }
}

object Workload {
  val Codecs4: Seq[JsonCodec] = Seq(Codecs.plain, Codecs.variant, Codecs.jsonc, Codecs.shredded)
  val Paths: Seq[Seq[String]] = Seq(Seq("name"), Seq("attributes", "event_attributes"))
  /** NDJSON part files: fixed, so stored sizes do not depend on the core count. */
  val NdjsonParts = 4
  /** Corpus size, and passes, of the small warm-up copy of a codec workload. */
  val SmallLines = 30000L
  val SmallPasses = 3

  def force(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def callSeconds(pass: Seq[Span], key: String): Double =
    pass.filter(_.name == s"call:$key").map(_.seconds).sum

  def spanSeconds(pass: Seq[Span], name: String): Double =
    pass.filter(_.name == name).map(_.seconds).sum

  def pathKey(p: Seq[String]): String = p.mkString(".")
}

/** Generated events corpus written once as NDJSON; shared by both codec
  * workloads. */
abstract class EventsWorkload(spark: SparkSession, work: String, n: Long,
    ndv: Double, seed: Long) extends Workload {
  import Workload._
  val ndjson = s"$work/ndjson"
  var ndjsonBytes = 0L
  def ndjsonMb: Double = ndjsonBytes / 1e6
  val nd: Long = EventsGenerator.numDistinct(n, ndv)

  def writeCorpus(tr: Tracer): Unit = {
    tr.span("gen") {
      val ts = get_json_object(col("doc"), "$.timestamp")
      EventsGenerator.generate(spark, n, ndv, seed)
        .repartition(NdjsonParts, ts).sortWithinPartitions(ts)
        .write.mode("overwrite").text(ndjson)
    }
    ndjsonBytes = new java.io.File(ndjson).listFiles()
      .filter(_.getName.startsWith("part-")).map(_.length).sum
  }

  /** Row count and distinct `name` count from `get`, and distinct
    * `name` count after `decode`; the generator's cover guarantee makes
    * `nd` exact. A query that throws leaves -1, which fails the check. */
  final class StoreCounts(c: JsonCodec) {
    var rows, viaGet, viaDecode = -1L
    def fromGet(got: DataFrame): Unit = {
      val r = got.agg(count(lit(1)), countDistinct(col("result"))).head()
      rows = r.getLong(0)
      viaGet = r.getLong(1)
    }
    def fromDecode(decoded: DataFrame): Unit =
      viaDecode = decoded.agg(countDistinct(get_json_object(col("doc"), "$.name"))).head().getLong(0)
    def checks: Seq[Check] = Seq(("rows", n, rows), ("distinct_name_get", nd, viaGet),
      ("distinct_name_decode", nd, viaDecode)).map { case (what, expect, got) =>
      Check(s"${c.name}.$what", c.name, got == expect, s"expected $expect, got $got")
    }
  }
}

/** ingest: each call reads the NDJSON corpus, encodes it and flushes it
  * as ZSTD Parquet, for each of the four codecs. */
final class IngestWorkload(spark: SparkSession, work: String, n: Long, ndv: Double,
    seed: Long) extends EventsWorkload(spark, work, n, ndv, seed) {
  import Workload._
  def out(c: JsonCodec) = s"$work/store/${c.name}"
  override lazy val small = Some(new IngestWorkload(spark, s"$work/small", Workload.SmallLines, ndv, seed))
  val bytesWritten = scala.collection.mutable.Map.empty[String, Long]

  def build(tr: Tracer): Unit = writeCorpus(tr)

  def pass(tr: Tracer, calls: Calls): Unit = {
    for (c <- Codecs4) {
      calls(s"ingest.${c.name}", c.name) {
        c.flush(c.encode(IO.readNdjson(spark, ndjson)), out(c))
      }
      bytesWritten(c.name) = IO.pathSize(out(c))
    }
    if (tr.traced) {
      tr.span("io.ndjson_scan")(force(IO.readNdjson(spark, ndjson)))
      val raw = IO.readNdjson(spark, ndjson).cache()
      force(raw)
      for (c <- Codecs4) {
        tr.span(s"codec.encode.${c.name}")(force(c.encode(raw)))
        val enc = c.encode(raw).cache()
        force(enc)
        tr.span(s"io.flush.${c.name}")(c.flush(enc, s"$work/isolated/${c.name}"))
        enc.unpersist(blocking = true)
      }
      raw.unpersist(blocking = true)
    }
  }

  /** The four stores are read back concurrently: this is outside the
    * timed region, and the small check jobs leave cores idle. */
  def checks(): Seq[Check] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    val all = Future.traverse(Codecs4) { c => Future {
      val counts = new StoreCounts(c)
      try {
        counts.fromGet(c.get(c.load(spark, out(c)), Seq("name")))
        counts.fromDecode(c.decode(c.load(spark, out(c))))
      } catch { case e: Throwable => System.err.println(s"[perfbench] check on ${c.name} failed: $e") }
      counts.checks
    } }
    Await.result(all, scala.concurrent.duration.Duration.Inf).flatten
  }

  def figures(untraced: Seq[Seq[Span]]): Map[String, (Double, String)] = {
    val perCodec = Codecs4.map { c =>
      s"ingest_mb_s.${c.name}" ->
        (ndjsonMb / median(untraced.map(callSeconds(_, s"ingest.${c.name}"))), "MB/s")
    }
    perCodec.toMap + ("stored_ratio" ->
      (bytesWritten.values.sum.toDouble / (Codecs4.size * ndjsonBytes), "ratio"))
  }

  def layers(pass: Seq[Span]): Map[String, Double] =
    Map("io.ndjson_scan_s" -> spanSeconds(pass, "io.ndjson_scan")) ++
      Codecs4.flatMap { c =>
        Seq(s"codec.encode_s.${c.name}" -> spanSeconds(pass, s"codec.encode.${c.name}"),
          s"io.flush_s.${c.name}" -> spanSeconds(pass, s"io.flush.${c.name}"),
          s"io.bytes_written.${c.name}" -> bytesWritten(c.name).toDouble)
      }
}

/** lookup: the four stores are built at setup; each call loads a store
  * and runs a path `get` or a full `decode`, forced through `noop`. */
final class LookupWorkload(spark: SparkSession, work: String, n: Long, ndv: Double,
    seed: Long) extends EventsWorkload(spark, work, n, ndv, seed) {
  import Workload._
  def store(c: JsonCodec) = s"$work/store/${c.name}"
  override lazy val small = Some(new LookupWorkload(spark, s"$work/small", Workload.SmallLines, ndv, seed))

  private val counts = Codecs4.map(c => c.name -> new StoreCounts(c)).toMap

  def build(tr: Tracer): Unit = writeCorpus(tr)

  override def prepare(tr: Tracer): Unit = for (c <- Codecs4) tr.span(s"build.${c.name}") {
    c.flush(c.encode(IO.readNdjson(spark, ndjson)), store(c))
  }

  /** The warm-up pass makes the same calls, aggregating the `name`
    * lookup and the decode for the checks instead of discarding them. */
  override def warm(tr: Tracer, calls: Calls): Unit = for (c <- Codecs4) {
    for (p <- Paths) calls(s"get.${c.name}.${pathKey(p)}", c.name) {
      val got = c.get(c.load(spark, store(c)), p)
      if (p == Seq("name")) counts(c.name).fromGet(got) else force(got)
    }
    calls(s"decode.${c.name}", c.name)(counts(c.name).fromDecode(c.decode(c.load(spark, store(c)))))
  }

  def pass(tr: Tracer, calls: Calls): Unit = for (c <- Codecs4) {
    for (p <- Paths) calls(s"get.${c.name}.${pathKey(p)}", c.name) {
      force(c.get(c.load(spark, store(c)), p))
    }
    calls(s"decode.${c.name}", c.name)(force(c.decode(c.load(spark, store(c)))))
    if (tr.traced) {
      tr.span(s"io.load.${c.name}")(force(c.load(spark, store(c))))
      val loaded = c.load(spark, store(c)).cache()
      force(loaded)
      for (p <- Paths)
        tr.span(s"codec.get.${c.name}.${pathKey(p)}")(force(c.get(loaded, p)))
      tr.span(s"codec.decode.${c.name}")(force(c.decode(loaded)))
      loaded.unpersist(blocking = true)
    }
  }

  def checks(): Seq[Check] = Codecs4.flatMap(c => counts(c.name).checks)

  def figures(untraced: Seq[Seq[Span]]): Map[String, (Double, String)] = {
    def med(key: String) = median(untraced.map(callSeconds(_, key)))
    val perCodec = Codecs4.map { c =>
      val getS = Paths.map(p => med(s"get.${c.name}.${pathKey(p)}")).sum
      s"lookup_mrows_s.${c.name}" -> (Paths.size * n / 1e6 / getS, "Mrows/s")
    }
    val decodeS = Codecs4.map(c => med(s"decode.${c.name}")).sum
    perCodec.toMap + ("readback_mb_s" -> (Codecs4.size * ndjsonMb / decodeS, "MB/s"))
  }

  def layers(pass: Seq[Span]): Map[String, Double] = Codecs4.flatMap { c =>
    Seq(s"io.load_s.${c.name}" -> spanSeconds(pass, s"io.load.${c.name}"),
      s"codec.decode_s.${c.name}" -> spanSeconds(pass, s"codec.decode.${c.name}")) ++
      Paths.flatMap { p =>
        val k = s"${c.name}.${pathKey(p)}"
        Seq(s"codec.get_s.$k" -> spanSeconds(pass, s"codec.get.$k"),
          s"io.scan_bytes.$k" -> pass.filter(_.name == s"call:get.$k")
            .map(_.counters.getOrElse("read_bytes", 0.0)).sum)
      }
  }.toMap
}

/** curation: operator chains registered in `SparkEntry.queries`, over a seeded
  * `documents` table, each forced through `noop`. The
  * warm-up pass writes each result as Parquet for the DuckDB oracle. */
final class CurationWorkload(spark: SparkSession, work: String, docs: Int,
    seed: Long) extends Workload {
  import Workload._
  val data = s"$work/data"
  val oracleDir = s"$work/oracle"
  /** The chain is bound by driver-side planning and scheduling, whose
    * JIT keeps improving for several passes: one warm-up is not enough. */
  override def warmPasses = 8

  def build(tr: Tracer): Unit =
    tr.span("gen")(CurationData.write(spark, data, docs, seed))

  override def warm(tr: Tracer, calls: Calls): Unit = {
    for (q <- Curation.Queries) calls(s"op.$q", q) {
      graft.SparkEntry.queries(q)(spark, data).write.mode("overwrite").parquet(s"$oracleDir/$q")
    }
    val sql = Curation.Queries.map(q => s"${Json.str(q)}:${Json.str(graft.SparkEntry.oracleSql(q))}")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$oracleDir/oracle_sql.json"),
      sql.mkString("{", ",", "}"))
  }

  def pass(tr: Tracer, calls: Calls): Unit =
    for (q <- Curation.Queries) calls(s"op.$q", q)(force(graft.SparkEntry.queries(q)(spark, data)))

  /** The result comparison against DuckDB runs after the JVM exits. */
  def checks(): Seq[Check] = Nil

  def figures(untraced: Seq[Seq[Span]]): Map[String, (Double, String)] =
    Map("ops_wall_s" -> (median(untraced.map(_.filter(_.name.startsWith("call:")).map(_.seconds).sum)), "s"))

  def layers(pass: Seq[Span]): Map[String, Double] = Curation.Queries.flatMap { q =>
    val s = pass.find(_.name == s"call:op.$q").get
    (s"op.wall_s.$q" -> s.seconds) +: Curation.Counters.map(k => s"op.$k.$q" -> s.counters(k))
  }.toMap
}

object Curation {
  val Queries = Seq("d07_dedup_clusters")
  val Counters = Seq("jobs", "stages", "tasks", "shuffle_write_bytes", "driver_gap_s",
    "persisted_rdds_leaked")
}
