package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.LocalOutputFile
import org.apache.parquet.schema.MessageTypeParser

/** One generated record: the `(id, embedding, payload)` shape of a graft
  * collection row.
  */
final case class Rec(id: Long, vec: Array[Float], payload: String) {
  /** Logical size as a user submits it: 8-byte id, 4 bytes per float,
    * UTF-8 payload — the denominator of the write/space amplification
    * metrics, independent of the file format it travels in.
    */
  def userBytes: Long = 8L + 4L * vec.length + payload.getBytes(UTF_8).length
}

/** One generated corpus document for the `build` workload. */
final case class Doc(id: Long, text: String, lang: String, source: String,
    vec: Array[Float])

/** Seeded input generator. Everything derives from one
  * `java.util.Random` stream per purpose, so the same seed always yields
  * byte-identical files, and the program under test only ever sees the
  * files (and the command strings a client would send).
  */
final class Gen(seed: Long, val dim: Int = 64, nCentres: Int = 256,
    vocabSize: Int = 4096, zipfS: Double = 1.1) {

  private def rng(purpose: Int) = new java.util.Random(seed * 1000003L + purpose)

  /** Gaussian-mixture centres: N(0,1)^dim each. */
  private val centres: Array[Array[Double]] = {
    val r = rng(1)
    Array.fill(nCentres)(Array.fill(dim)(r.nextGaussian()))
  }

  /** Synthetic vocabulary of lowercase alphanumeric terms; the first
    * ranks are the stopwords the quality scorer counts, so the Zipf head
    * looks like English function words.
    */
  val vocab: Array[String] = {
    val stop = Seq("the", "a", "an", "and", "of", "to", "in", "is")
    val r = rng(2)
    val alpha = "abcdefghijklmnopqrstuvwxyz0123456789"
    val seen = scala.collection.mutable.LinkedHashSet[String](stop: _*)
    while (seen.size < vocabSize) {
      val len = 3 + r.nextInt(7)
      // a letter first keeps every term a plausible word
      val sb = new StringBuilder
      sb += ('a' + r.nextInt(26)).toChar
      for (_ <- 1 until len) sb += alpha.charAt(r.nextInt(alpha.length))
      seen += sb.toString
    }
    seen.toArray
  }

  private val zipfCdf: Array[Double] = {
    val w = Array.tabulate(vocab.length)(i => 1.0 / math.pow(i + 1, zipfS))
    val tot = w.sum
    var acc = 0.0
    w.map { x => acc += x / tot; acc }
  }

  def term(r: java.util.Random): String = {
    val u = r.nextDouble()
    val i = java.util.Arrays.binarySearch(zipfCdf, u)
    vocab(math.min(vocab.length - 1, if (i >= 0) i else -i - 1))
  }

  /** A query term: uniform over Zipf ranks 40–135, terms held by about
    * 2–9% of payloads — discriminative, and of similar cost on every seed.
    */
  def queryTerm(r: java.util.Random): String = vocab(40 + r.nextInt(96))

  /** A payload of 20–60 Zipf-drawn terms. */
  def payload(r: java.util.Random): String =
    Iterator.fill(20 + r.nextInt(41))(term(r)).mkString(" ")

  /** One mixture draw: centre + 0.35·N(0,1), as float32. */
  def vector(r: java.util.Random): Array[Float] = {
    val c = centres(r.nextInt(nCentres))
    Array.tabulate(dim)(j => (c(j) + 0.35 * r.nextGaussian()).toFloat)
  }

  /** `n` records with ids `firstId ..`, drawn from stream `purpose`. */
  def records(purpose: Int, n: Int, firstId: Long = 0L): Array[Rec] = {
    val r = rng(purpose)
    Array.tabulate(n)(i => Rec(firstId + i, vector(r), payload(r)))
  }

  /** The `build` corpus: `n` docs with stated shares of exact duplicates
    * (copies of an earlier doc's text), docs opening with one of a few
    * repeated 20-token spans (the span-dedup target: spans sit on the
    * 20-token chunk grid), and non-English docs.
    */
  def corpus(purpose: Int, n: Int, dupShare: Double = 0.10,
      spanShare: Double = 0.10, nonEnShare: Double = 0.20): Array[Doc] = {
    val r = rng(purpose)
    val spans = Array.fill(8)(Iterator.fill(20)(term(r)).mkString(" "))
    val langs = Array("de", "fr", "es", "zh")
    val docs = new Array[Doc](n)
    for (i <- 0 until n) {
      val u = r.nextDouble()
      val text =
        if (i > 0 && u < dupShare) docs(r.nextInt(i)).text
        else if (u < dupShare + spanShare)
          spans(r.nextInt(spans.length)) + " " + payload(r)
        else payload(r)
      val lang =
        if (r.nextDouble() < nonEnShare) langs(r.nextInt(langs.length)) else "en"
      docs(i) = Doc(i, text, lang, s"src${r.nextInt(4)}", vector(r))
    }
    docs
  }
}

/** What the generator actually produced, reported beside the metrics. */
final case class InputStats(props: Seq[(String, Double)]) {
  def json: String = props.map { case (k, v) => s""""$k": ${Json.num(v)}""" }
    .mkString("{", ", ", "}")
}

object Disk {

  def write(path: Path, s: String): Long = {
    Files.createDirectories(path.getParent)
    Files.write(path, s.getBytes(UTF_8))
    Files.size(path)
  }

  /** The reference's `vec;payload` lines — the line number becomes the id
    * on BULKINSERT. `Float.toString` round-trips exactly.
    */
  def writeVecText(path: Path, recs: Iterable[Rec]): Long = {
    val sb = new StringBuilder
    recs.foreach { r =>
      sb.append(r.vec.mkString(",")).append(';').append(r.payload).append('\n')
    }
    write(path, sb.toString)
  }

  private def parquet(path: Path, schema: String)(rows: SimpleGroupFactory => Iterator[Group]): Long = {
    Files.createDirectories(path.getParent)
    Files.deleteIfExists(path)
    val mt = MessageTypeParser.parseMessageType(schema)
    val conf = new Configuration(false)
    org.apache.parquet.hadoop.example.GroupWriteSupport.setSchema(mt, conf)
    val w = ExampleParquetWriter.builder(new LocalOutputFile(path))
      .withConf(conf).withType(mt)
      .withCompressionCodec(CompressionCodecName.UNCOMPRESSED)
      .withWriteMode(ParquetFileWriter.Mode.OVERWRITE).build()
    try rows(new SimpleGroupFactory(mt)).foreach(w.write)
    finally w.close()
    Files.size(path)
  }

  private def addVec(g: Group, field: String, v: Array[Float]): Unit = {
    val list = g.addGroup(field)
    v.foreach(x => list.addGroup("list").append("element", x))
  }

  /** `(query_id, query_vec)` rows — a `SEARCHSIMILAR batch=` input. */
  def writeQueryParquet(path: Path, qs: Seq[Array[Float]]): Long =
    parquet(path,
      """message q { required int64 query_id;
        |  required group query_vec (LIST) { repeated group list { required float element; } } }""".stripMargin) { f =>
      qs.iterator.zipWithIndex.map { case (v, i) =>
        val g = f.newGroup().append("query_id", i.toLong)
        addVec(g, "query_vec", v)
        g
      }
    }

  /** `(doc_id, text, lang, source)` rows — the corpus PretrainPipeline reads. */
  def writeDocParquet(path: Path, docs: Iterable[Doc]): Long =
    parquet(path,
      """message d { required int64 doc_id; required binary text (STRING);
        |  required binary lang (STRING); required binary source (STRING); }""".stripMargin) { f =>
      docs.iterator.map(d => f.newGroup().append("doc_id", d.id)
        .append("text", d.text).append("lang", d.lang).append("source", d.source))
    }

  def dirBytes(dir: Path): Long =
    if (!Files.exists(dir)) 0L
    else {
      val s = Files.walk(dir)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }

  /** path → size of every regular file under `dir`. */
  def snapshot(dir: Path): Map[String, Long] =
    if (!Files.exists(dir)) Map.empty
    else {
      val s = Files.walk(dir)
      try {
        val b = Map.newBuilder[String, Long]
        s.filter(Files.isRegularFile(_)).forEach(p => b += (p.toString -> Files.size(p)))
        b.result()
      } finally s.close()
    }

  def deleteTree(dir: Path): Unit =
    if (Files.exists(dir)) {
      val s = Files.walk(dir)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
      finally s.close()
    }
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString

  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
    sb.toString
  }
}

/** Small statistics helpers shared by the workloads. */
object Stat {
  /** Linear-interpolated quantile (type 7) of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val h = (s.length - 1) * q
    val lo = math.floor(h).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (h - lo) * (s(hi) - s(lo))
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length
}

/** Collects op latencies and failures for one timed window. */
final class OpLog {
  val lat = ArrayBuffer.empty[(String, Double)] // (kind, ms)
  var attempted = 0
  var failed = 0
  val failures = ArrayBuffer.empty[String]
  def fail(what: String): Unit = {
    failed += 1
    if (failures.length < 20) failures += what
  }
}
