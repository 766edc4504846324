package graftbench

import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.{Row, SparkSession}

import graft.commands.{CommandExecutor, CommandParser}
import graft.core.GraftDatabase

/** What every workload shares: the session, its working directory under
  * the checkout, the seed, the tracer and the log of operations.
  */
final class Ctx(val spark: SparkSession, val work: Path, val seed: Long,
    val scale: Double, val tracer: Tracer) {
  val log = new OpLog
  def sized(n: Int): Int = math.max(1, math.round(n * scale).toInt)
}

/** The client: commands go through the public command surface —
  * `CommandParser.parse`, then `CommandExecutor.execute(...).collect()` —
  * with a span around each module call.
  */
final class Client(ctx: Ctx, db: GraftDatabase) {
  private val tr = ctx.tracer

  def run(kind: String, cls: String, coll: Option[String], command: String,
      arg: Option[String], rows: Long = 0L): Array[Row] =
    tr.op(kind, cls, rows) {
      val cmd = tr.span("parse", "commands")(CommandParser.parse(coll, command, arg)) match {
        case Right(c) => c
        case Left(e) => throw new IllegalArgumentException(e.message)
      }
      val df = tr.span("execute", "commands")(CommandExecutor.execute(db, cmd))
      tr.span("collect", "commands")(df.collect())
    }
}

/** One measured step: its latency goes to the op log unless it threw
  * or its output failed the check that follows it.
  */
object Timed {
  def apply[T](ctx: Ctx, kind: String, record: Boolean = true)(body: => T)(
      check: T => Option[String]): Option[T] = {
    val log = ctx.log
    log.attempted += 1
    val t0 = System.nanoTime()
    val res = try Right(body) catch { case NonFatal(e) => Left(e) }
    val ms = (System.nanoTime() - t0) / 1e6
    res match {
      case Left(e) =>
        log.fail(s"$kind threw ${e.getClass.getSimpleName}: " +
          Option(e.getMessage).getOrElse("").take(160).replaceAll("\\s+", " "))
        None
      case Right(v) =>
        val bad = try check(v) catch { case NonFatal(e) => Some(s"check threw $e") }
        bad match {
          case Some(why) => log.fail(s"$kind: $why"); None
          case None => if (record) log.lat += ((kind, ms)); Some(v)
        }
    }
  }
}

/** Bytes committed under a directory between snapshots: files that are
  * new, or whose size changed, since the previous snapshot.
  */
final class Committed(dir: Path) {
  private var prev = Disk.snapshot(dir)
  var bytes = 0L
  def step(): Unit = {
    val now = Disk.snapshot(dir)
    bytes += now.iterator.collect {
      case (p, s) if !prev.get(p).contains(s) => s
    }.sum
    prev = now
  }
}

trait Workload {
  /** Builds the starting state from the seed: generates the inputs,
    * builds the fixture and warms each operation once.
    */
  def setup(): Unit
  /** Runs operations until `seconds` elapse, from the start of the
    * seeded operation stream.
    */
  def window(seconds: Double): Unit
  /** Post-window checks, and the workload's own end-to-end metrics. */
  def finish(): Map[String, Double]
  /** Input properties actually produced. */
  def inputs: InputStats
  /** The workload's own vectors, for the expression probes. */
  def vectors: Iterator[Array[Float]]
}

object Fmt {
  def vec(v: Array[Float]): String = v.mkString(",")
}

// ---------------------------------------------------------------- serve

/** Read-only closed loop, one client, over a collection built at set-up
  * (BULKINSERT, REINDEX type=ivfpq, REINDEX type=postings). Set-up builds
  * the collection `Builds` times from the same inputs; the median warm
  * build gives `docs_per_s`, and the last one is the collection measured.
  */
final class Serve(ctx: Ctx) extends Workload {
  import Serve._
  val n: Int = ctx.sized(BaseRows)
  private val gen = new Gen(ctx.seed)
  private val recs: Array[Rec] = gen.records(10, n)
  private var client: Client = _
  private var dir: Path = _
  private val buildWriteMs = ArrayBuffer.empty[Double]
  private var writeAmp, spaceAmp = 0.0
  private var inputBytes = 0L
  private var ops: ReadOps = _
  private var hotIssued, issued = 0

  def setup(): Unit = (0 until Builds).foreach(build)

  private def build(rep: Int): Unit = {
    val d = ctx.work.resolve(s"serve_$rep")
    Disk.deleteTree(d)
    val in = d.resolve("in")
    inputBytes = Disk.writeVecText(in.resolve("collection.vec"), recs)
    // query batch files: one hot batch, a few fresh ones
    val qr = new java.util.Random(ctx.seed * 31 + 7)
    val hot = Array.fill(HotPool)(gen.vector(qr))
    val batches = ReadOps.writeBatches(gen, in, hot, qr)
    val db = GraftDatabase.create(ctx.spark, d.toString, "db")
    client = new Client(ctx, db)
    val dbDir = d.resolve("db")
    val committed = new Committed(dbDir)
    var writeMs = 0.0
    def write(kind: String, command: String, arg: Option[String], rows: Long = 0L): Unit = {
      val t0 = System.nanoTime()
      Timed(ctx, kind)(client.run(kind, "write", Some(Coll), command, arg, rows))(_ => None)
      writeMs += (System.nanoTime() - t0) / 1e6
      committed.step()
    }
    Timed(ctx, "create", record = false)(
      client.run("create", "write", None, "CREATE", Some(Coll)))(_ => None)
    write("bulkinsert", "BULKINSERT", Some(in.resolve("collection.vec").toString), n)
    write("reindex_ivfpq", "REINDEX", Some(IvfPqSpec))
    write("reindex_postings", "REINDEX", Some("type=postings"))
    buildWriteMs += writeMs
    val userBytes = recs.map(_.userBytes).sum.toDouble
    writeAmp = committed.bytes / userBytes
    spaceAmp = Disk.dirBytes(dbDir) / userBytes
    ops = new ReadOps(gen, ctx, client, recs, in, hot, batches)
    // warm-up after the first build: every kind once, from its own stream
    if (rep == 0) {
      ops.stream = new java.util.Random(ctx.seed * 131 + 99)
      ReadOps.Kinds.foreach(k => ops.issue(k, record = false, isHot = false))
    }
    if (rep > 0) Disk.deleteTree(ctx.work.resolve(s"serve_${rep - 1}"))
    dir = d
  }

  /** Whole cycles of the fixed read mix until `seconds` elapse; the
    * operations at even positions draw from the hot pool.
    */
  def window(seconds: Double): Unit = {
    ops.stream = new java.util.Random(ctx.seed * 131 + 1)
    val end = System.nanoTime() + (seconds * 1e9).toLong
    do {
      ReadOps.Cycle.zipWithIndex.foreach { case (k, i) =>
        val hot = i % 2 == 0
        ops.issue(k, record = true, hot)
        issued += 1; if (hot) hotIssued += 1
      }
    } while (System.nanoTime() < end)
  }

  def finish(): Map[String, Double] = Map(
    "recall_at_10" -> ReadOps.recallProbe(ctx, client, gen, recs.toSeq, dir, RecallQueries),
    // warm builds only: the first pays the JVM's cold start
    "docs_per_s" -> n / (Stat.median(buildWriteMs.tail.toSeq) / 1000),
    "write_amp" -> writeAmp,
    "space_amp" -> spaceAmp)

  def vectors: Iterator[Array[Float]] = recs.iterator.map(_.vec)

  def inputs: InputStats = InputStats(Seq(
    "rows" -> n.toDouble, "dim" -> gen.dim.toDouble,
    "input_bytes" -> inputBytes.toDouble, "vocab" -> gen.vocab.length.toDouble,
    "payload_tokens_mean" -> Stat.mean(recs.take(2000).map(_.payload.count(_ == ' ') + 1.0).toSeq),
    "hot_share" -> (if (issued == 0) 0.0 else hotIssued.toDouble / issued),
    "ops_issued" -> issued.toDouble))
}

object Serve {
  val Coll = "docs"
  val Builds = 4
  val BaseRows = 5000
  val HotPool = 8
  val BatchSize = 32
  val FreshBatches = 4
  val IvfPqSpec = "type=ivfpq;k=16;m=8;ksub=16"
  val AdcArg = "k=10;radius=2;shortlist=50"
  /** Over the 5k-row index, 64 queries hold recall's spread across
    * seeds to ~0.02.
    */
  val RecallQueries = 64
}

/** The serve read kinds. Each call issues one operation whose query
  * comes from the seeded `stream`, or from a small hot pool; `recs`
  * gives the reference answers.
  */
final class ReadOps(gen: Gen, ctx: Ctx, client: Client, recs: Array[Rec],
    in: Path, hot: Array[Array[Float]], batches: Map[String, Seq[Array[Float]]]) {
  var stream: java.util.Random = _
  private lazy val bm25 = new Checks.Bm25(recs.map(r => (r.id, r.payload)))
  private val hotTerms: Array[Seq[String]] = {
    val r = new java.util.Random(ctx.seed * 17 + 3)
    Array.fill(hot.length)(Seq.fill(2)(gen.queryTerm(r)).distinct)
  }
  def issue(kind: String, record: Boolean, isHot: Boolean): Unit = {
    val r = stream
    val h = r.nextInt(hot.length)
    def qvec: Array[Float] = if (isHot) hot(h) else gen.vector(r)
    def terms: Seq[String] =
      if (isHot) hotTerms(h) else Seq.fill(2)(gen.queryTerm(r)).distinct
    val coll = Some(Serve.Coll)
    kind match {
      case "knn_exact" =>
        val q = qvec
        Timed(ctx, kind, record)(client.run(kind, "read", coll, "SEARCHSIMILAR",
          Some(s"k=10;vec=${Fmt.vec(q)}"))) { rows =>
          Checks.topK(rows.map(x => (x.getAs[Long]("id"), x.getAs[Double]("score"))).toSeq,
            Checks.ranked(recs, q, "cosine"), 10, higherBetter = true, eps = 1e-5)
        }
      case "knn_adc" =>
        val q = qvec
        Timed(ctx, kind, record)(client.run(kind, "read", coll, "SEARCHSIMILAR",
          Some(s"${Serve.AdcArg};vec=${Fmt.vec(q)}"))) { rows =>
          if (rows.length != 10) Some(s"expected 10 rows, got ${rows.length}") else None
        }
      case "knn_batch" =>
        val file = if (isHot) "batch_hot.parquet" else s"batch_${r.nextInt(Serve.FreshBatches)}.parquet"
        Timed(ctx, kind, record)(client.run(kind, "read", coll, "SEARCHSIMILAR",
          Some(s"k=10;batch=${in.resolve(file)}"))) { rows =>
          val qs = batches(file)
          val byQ = rows.groupBy(_.getAs[Long]("query_id"))
          qs.indices.iterator.map { qi =>
            Checks.topK(byQ.getOrElse(qi.toLong, Array.empty[Row]).toSeq
                .map(x => (x.getAs[Long]("id"), x.getAs[Double]("score"))).sortBy(x => (-x._2, x._1)),
              Checks.ranked(recs, qs(qi), "cosine"), 10, higherBetter = true, eps = 1e-5)
              .map(w => s"query $qi: $w")
          }.collectFirst { case Some(w) => w }
        }
      case "text_bm25" =>
        val ts = terms
        Timed(ctx, kind, record)(client.run(kind, "read", coll, "SEARCHTEXT",
          Some(s"terms=${ts.mkString(",")};k=10"))) { rows =>
          Checks.topK(rows.map(x => (x.getAs[Long]("id"), x.getAs[Double]("bm25"))).toSeq,
            bm25.scores(ts), 10, higherBetter = true, eps = 2e-6)
        }
      case "hybrid" =>
        val q = qvec; val ts = terms
        Timed(ctx, kind, record)(client.run(kind, "read", coll, "SEARCHHYBRID",
          Some(s"terms=${ts.mkString(",")};k=10;vec=${Fmt.vec(q)}"))) { rows =>
          // RRF fuses each branch's top kf=20: every fused id must come
          // from one of them (25 leaves room for ties at either cut)
          val pool = bm25.scores(ts).take(25).map(_._1).toSet ++
            Checks.ranked(recs, q, "cosine").take(25).map(_._1)
          val ids = rows.map(_.getAs[Long]("id"))
          if (ids.isEmpty || ids.length > 10) Some(s"${ids.length} rows")
          else ids.find(i => !pool(i)).map(i => s"id $i is in neither branch's top-k")
        }
      case "lookup" =>
        val rr = if (isHot) new java.util.Random(h) else r
        val ids = Seq.fill(5)(rr.nextInt(math.max(1, recs.length)).toLong).distinct
        Timed(ctx, kind, record)(client.run(kind, "read", coll, "SEARCH",
          Some(s"id IN (${ids.mkString(",")})"))) { rows =>
          val want = recs.iterator.filter(x => ids.contains(x.id)).map(x => (x.id, x.payload)).toSeq
          Checks.sameRows(rows.map(x => (x.getAs[Long]("id"), x.getAs[String]("payload"))).toSeq, want)
        }
      case "stats" =>
        if (isHot)
          Timed(ctx, kind, record)(client.run(kind, "read", coll, "STATS", None)) { rows =>
            val m = rows.map(x => x.getString(0) -> x.getLong(1)).toMap
            if (m.get("dim").contains(gen.dim.toLong)) None else Some(s"STATS dim ${m.get("dim")}")
          }
        else
          Timed(ctx, kind, record)(client.run(kind, "read", coll, "LISTINDEXES", None)) { rows =>
            val m = rows.map(x => x.getString(0) -> x.getString(1)).toMap
            if (m.contains("vector:ivfpq_kmeans")) None
            else Some(s"LISTINDEXES lost the ivfpq index: $m")
          }
    }
  }
}

object ReadOps {
  /** Mean recall@10 of the ivfpq ADC probe over a fixed batch of seeded
    * queries, answered in one `SEARCHSIMILAR batch=` operation, against a
    * brute-force l2 top-10 over `recs`.
    */
  def recallProbe(ctx: Ctx, client: Client, gen: Gen, recs: Seq[Rec], dir: Path,
      queries: Int): Double = {
    val r = new java.util.Random(ctx.seed * 71 + 3)
    val qs = Seq.fill(queries)(gen.vector(r))
    val file = dir.resolve("recall.parquet")
    Disk.writeQueryParquet(file, qs)
    var recall = 0.0
    Timed(ctx, "knn_adc_batch", record = false)(client.run("knn_adc_batch", "read",
      Some(Serve.Coll), "SEARCHSIMILAR", Some(s"${Serve.AdcArg};batch=$file"))) { rows =>
      val byQ = rows.groupBy(_.getAs[Long]("query_id"))
      recall = Stat.mean(qs.indices.map { i =>
        Checks.recall(byQ.getOrElse(i.toLong, Array.empty[Row]).map(_.getAs[Long]("id")).toSeq.distinct,
          Checks.ranked(recs, qs(i), "l2").map(_._1).distinct.take(10))
      })
      if (byQ.size == qs.length) None else Some(s"answers for ${byQ.size} of ${qs.length} queries")
    }
    recall
  }

  /** Writes the `SEARCHSIMILAR batch=` files: one hot batch, a few fresh. */
  def writeBatches(gen: Gen, in: Path, hot: Array[Array[Float]],
      r: java.util.Random): Map[String, Seq[Array[Float]]] = {
    val all = ("batch_hot.parquet" -> Seq.tabulate(Serve.BatchSize)(i => hot(i % hot.length))) +:
      (0 until Serve.FreshBatches).map(b => s"batch_$b.parquet" -> Seq.fill(Serve.BatchSize)(gen.vector(r)))
    all.foreach { case (f, qs) => Disk.writeQueryParquet(in.resolve(f), qs) }
    all.toMap
  }

  val Kinds = Seq("knn_exact", "text_bm25", "knn_adc", "lookup", "knn_batch", "hybrid", "stats")

  /** The serve mix as a fixed cycle, so every seed issues the same kinds
    * in the same order and only the queries differ. Each kind comes twice;
    * the kinds being odd in number, once at an even (hot) position and
    * once at an odd (fresh) one, so every cycle has the same hot share and
    * the mix does not depend on how many cycles fit in the window.
    */
  val Cycle: Seq[String] = Kinds ++ Kinds
}
