package perfbench

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** A seeded `documents` table in the layout the curation queries read
  * (one Parquet file, as in the scale-factor directories): 30-word
  * vocabulary, 10-100 words per document, and every twentieth document a
  * near-duplicate ("dup" appended) of the one ten before it.
  *
  * The seed relabels the vocabulary; the word sequence of each document
  * comes from a fixed stream. Documents of two seeds are therefore
  * relabelings of each other: the shingle overlaps, the near-duplicate
  * graph and so the number of jobs the dedup stages run are the same for
  * every seed, while every word, hash and posting differs. Small by
  * design: the curation chains are bound by per-job fixed costs, not by
  * rows. */
object CurationData {
  private val Vocab = ("spark window merge table column vector stream value data small " +
    "join filter big group hash customer sort order slow line part fast row the agg key " +
    "query a scan batch").split(' ')
  private val Langs = Seq("en" -> 0.4, "zh" -> 0.15, "de" -> 0.15, "es" -> 0.15, "fr" -> 0.15)
  private val StructureSeed = 20240725L

  def write(spark: SparkSession, dir: String, docs: Int, seed: Long): Unit = {
    val words = new scala.util.Random(seed).shuffle(Vocab.toSeq)
    val rnd = new scala.util.Random(StructureSeed)
    val texts = new Array[String](docs)
    val rows = (0 until docs).map { i =>
      texts(i) =
        if (i % 20 == 19) texts(i - 10) + " dup"
        else Seq.fill(10 + rnd.nextInt(91))(words(rnd.nextInt(words.length))).mkString(" ")
      val u = rnd.nextDouble()
      val lang = Langs.scanLeft(("", 0.0)) { case ((_, acc), (l, p)) => (l, acc + p) }
        .tail.find(_._2 > u).map(_._1).getOrElse("en")
      Row(i.toLong, texts(i), lang, s"src${i % 20}", texts(i).length.toLong)
    }
    val schema = StructType.fromDDL(
      "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT")
    val tmp = s"$dir/documents.tmp"
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles().find(f =>
      f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(part.toPath, java.nio.file.Paths.get(s"$dir/documents.parquet"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    Harness.deleteTree(new java.io.File(tmp))
  }
}
