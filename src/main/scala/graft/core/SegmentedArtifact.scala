package graft.core

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, GraftSqlShims, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The lifecycle every managed collection sidecar shares — one class, and
  * one [[SegmentedArtifact.Family]] value per sidecar (postings, minhash,
  * winsig, dhash, splits, attrs). A family contributes its name, its
  * frames and (in [[GraftDatabase]]) its row derivation; every step below
  * is written once:
  *
  *  - LAYOUT: `<root>/graft_<dir>_<coll>/` holds `meta.json` (flat JSON:
  *    the family's parameters plus the `gen` pointer), the `stale` marker,
  *    and the data under `gen_<g>/<frame>/` (dhash is flat: no generation).
  *  - GENERATION COMMIT (build, compaction, split base): the new data is
  *    written into a fresh `gen_<g>/` while readers keep serving the
  *    current one; the meta.json overwrite that moves the pointer is the
  *    single commit point, after which the stale marker clears and every
  *    other generation (the old one, or an orphan a crash left) is swept.
  *    A crash leaves the old generation or the new one, never a mix.
  *  - SEGMENTS + TOMBSTONES: every row carries a `seg` number (a build is
  *    seg 0); dead `(id, seg)` versions are APPENDED to `tombstones/` —
  *    committed tombstones are never rewritten — and readers drop them
  *    with a broadcast anti-join.
  *  - REFRESH: the `(id, payload_md5)` diff of the collection against the
  *    family's diff-base frame (its FIRST frame): arrivals become one new
  *    segment, departures become tombstones, the marker clears.
  *  - STALENESS: every mutation writes the `stale` marker; an artifact is
  *    live when its meta exists and no marker does. A stale artifact
  *    never serves.
  *
  * Readers resolve the generation pointer ONCE per operation ([[at]]) and
  * read every frame from that directory.
  */
final class SegmentedArtifact(spark: SparkSession, fs: FileSystem,
    root: Path, val family: SegmentedArtifact.Family) {
  import SegmentedArtifact._

  // ---- fault injection (spec-only) ---------------------------------------

  private var crashAt = 0
  private var stepsTaken = 0

  /** Test hook (the StageStore.failBeforeCommit precedent): throw right
    * after the `n`-th durable step from now — a frame write, a tombstone
    * append, a marker or meta write, the sweep — then disarm, so the
    * retry runs clean. Arming 1, 2, 3, ... until an operation completes
    * crashes it after every one of its steps in turn.
    */
  private[graft] def armCrash(n: Int): Unit = { crashAt = n; stepsTaken = 0 }

  private[graft] def disarm(): Unit = crashAt = 0

  private def stepDone(what: String): Unit = {
    stepsTaken += 1
    if (crashAt > 0 && stepsTaken >= crashAt) {
      crashAt = 0
      throw new IllegalStateException(
        s"injected crash after step $stepsTaken ($what)")
    }
  }

  // ---- layout, meta, staleness -------------------------------------------

  def dir(coll: String): Path =
    new Path(root, s"${GraftDatabase.ReservedPrefix}${family.dirName}_$coll")

  private def metaPath(coll: String): Path = new Path(dir(coll), "meta.json")

  private def marker(coll: String): Path = new Path(dir(coll), "stale")

  /** Whether an artifact is committed (its meta exists). */
  def exists(coll: String): Boolean = fs.exists(metaPath(coll))

  def isStale(coll: String): Boolean =
    exists(coll) && fs.exists(marker(coll))

  def isLive(coll: String): Boolean =
    exists(coll) && !fs.exists(marker(coll))

  /** The LISTINDEXES serving state: None when absent. */
  def state(coll: String): Option[String] =
    if (!exists(coll)) None
    else Some(if (fs.exists(marker(coll))) "stale" else "live")

  def meta(coll: String): String = readString(fs, metaPath(coll))

  /** A meta field's value (strings unquoted), None when not recorded. */
  def field(coll: String, key: String): Option[String] =
    metaField(meta(coll), key)

  /** A recorded parameter — loud when absent: an artifact built before
    * the parameter existed needs one full rebuild.
    */
  def param(coll: String, key: String): String =
    field(coll, key).getOrElse(throw new IllegalStateException(
      s"${family.kind} meta on $coll has no $key field (the artifact " +
        s"predates it) — run ${family.rebuild} to rebuild"))

  def intParam(coll: String, key: String): Int = param(coll, key).toInt

  /** Loud precondition of the maintenance modes: an artifact must exist. */
  def requireExists(coll: String, what: String): Unit =
    require(exists(coll),
      s"no ${family.label} on $coll to $what — run ${family.rebuild} first")

  /** ... and be LIVE: maintaining a stale one would launder staleness. */
  def requireLive(coll: String, what: String): Unit = {
    requireExists(coll, what)
    require(!fs.exists(marker(coll)),
      s"${family.label} on $coll is stale — ${family.refreshHint} first, " +
        s"then $what")
  }

  /** Mark the artifact stale — every mutation calls this for every
    * family. No-op when absent, for a family that never goes stale, and
    * when already marked (a marker naming an in-flight segment must
    * survive until a refresh heals it).
    */
  def invalidate(coll: String): Unit =
    if (family.staleable && exists(coll) && !fs.exists(marker(coll)))
      markStale(coll)

  private def markStale(coll: String): Unit =
    durable("stale")(writeString(fs, marker(coll), "stale"))

  def clearStale(coll: String): Unit =
    durable("unstale") { fs.delete(marker(coll), false); () }

  /** Delete the artifact outright (DROP). No-op when absent. */
  def delete(coll: String): Unit = {
    val d = dir(coll)
    if (fs.exists(d)) { fs.delete(d, true); () }
  }

  private def durable[T](what: String)(body: => T): T = {
    val out = body
    stepDone(what)
    out
  }

  private def writeMeta(coll: String, json: String): Unit =
    durable("meta")(writeString(fs, metaPath(coll), json))

  // ---- frames --------------------------------------------------------------

  /** The current generation's directory — resolve it once per operation
    * and read every frame from it (dhash: the artifact directory).
    */
  def at(coll: String): Path =
    if (!family.generational) dir(coll)
    else new Path(dir(coll), s"gen_${genOf(meta(coll)).getOrElse(0)}")

  /** A frame under `g`, read with its declared schema (explicit, so a
    * zero-row segment dir reads back as the empty frame).
    */
  def read(g: Path, frame: String): DataFrame =
    readFrame(spark, fs, new Path(g, frame), family.frame(frame).schema)

  /** The `(id, seg)` versions dead in generation `g`. */
  def tombstones(g: Path): DataFrame =
    readFrame(spark, fs, new Path(g, "tombstones"), TombstonesSchema)

  /** `rows` of generation `g` without its tombstoned versions: a
    * broadcast anti-join (one row per EVER-replaced version — orders of
    * magnitude below the row count).
    */
  def dropDead(g: Path, rows: DataFrame): DataFrame =
    rows.join(broadcast(tombstones(g)), Seq("id", "seg"), "left_anti")

  /** A frame's live rows. */
  def liveRows(g: Path, frame: String): DataFrame = dropDead(g, read(g, frame))

  /** Append `df` as frame `name` under `g`, partitioned the way the
    * family declares the frame.
    */
  def write(df: DataFrame, g: Path, name: String): Unit = durable(name) {
    val w = df.write.mode("append").option("compression",
      GraftDatabase.Compression)
    val parts = family.frames.find(_.name == name).toSeq.flatMap(_.partitionBy)
    (if (parts.nonEmpty) w.partitionBy(parts: _*) else w)
      .parquet(new Path(g, name).toString)
  }

  /** A small durable file under `g` (a segment marker, a carry file). */
  def writeFile(g: Path, name: String, body: String): Unit =
    durable(name)(writeString(fs, new Path(g, name), body))

  // ---- generation commit ---------------------------------------------------

  /** Commit a FRESH generation: `write` fills `gen_<g>/` (g beyond every
    * existing generation directory, so an orphan is never reused), the
    * meta overwrite moves the pointer — THE commit — the stale marker
    * clears and every other generation is swept. `fields` is the meta
    * body after `type` (`,"key":value` pairs). A flat family has no
    * second generation to build beside the first: it is replaced.
    */
  def commit(coll: String, fields: String)(write: Path => Unit): Unit = {
    val d = dir(coll)
    if (!family.generational) {
      delete(coll)
      write(d)
      writeMeta(coll, s"""{"type":"${family.kind}"$fields}""")
    } else {
      val g = nextGen(fs, d)
      write(new Path(d, s"gen_$g"))
      writeMeta(coll, s"""{"type":"${family.kind}"$fields,"gen":$g}""")
      clearStale(coll)
      durable("sweep")(sweep(fs, d, keep = g))
    }
  }

  /** The current meta's fields to carry into a new generation (all but
    * `type` and `gen`). A new generation starts flat, so a `max_seg`
    * high-water hint restarts at 0.
    */
  def carriedFields(coll: String): String =
    FieldRe.findAllMatchIn(meta(coll)).map(m => (m.group(1), m.group(2)))
      .collect {
        case ("max_seg", _) => ""","max_seg":0"""
        case (k, v) if k != "type" && k != "gen" => s""","$k":$v"""
      }.mkString

  /** COMPACTION: fold segments + tombstones into one fresh generation —
    * every live row of every frame present rewritten as seg 0, nothing
    * re-derived — committed by the pointer flip (online: readers serve
    * the old generation until then). Requires a LIVE artifact.
    */
  def compact(coll: String): Unit = {
    requireLive(coll, "compact")
    val src = at(coll)
    val present = family.frames.map(_.name)
      .filter(f => fs.exists(new Path(src, f)))
    commit(coll, carriedFields(coll)) { g =>
      present.foreach(f =>
        write(liveRows(src, f).withColumn("seg", lit(0)), g, f))
    }
  }

  // ---- segments ----------------------------------------------------------

  /** REFRESH — the incremental heal. Diff the collection's
    * `(id, key)` pairs against the live diff-base rows: ARRIVALS (new or
    * changed docs) are written through `writeSegment(rows, seg, g)` as
    * ONE new segment, DEPARTURES (replaced or deleted versions) are
    * appended as tombstones, and the marker clears. `cur` must carry the
    * id type the frames store; `key` is its diff key (payload_md5).
    * Returns the segment written, or -1 when nothing arrived.
    */
  def refresh(coll: String, cur: DataFrame, key: Column)
      (writeSegment: (DataFrame, Int, Path) => Unit): Int = {
    requireExists(coll, "refresh")
    val g = at(coll)
    healInFlight(coll, g)
    val curKeys = cur.select(col("id"), key.as("payload_md5"))
    val indexed = liveRows(g, family.diffBase.name)
      .select(col("id"), col("payload_md5"), col("seg"))
    // changed docs appear on BOTH sides: as an arrival (new md5 not
    // indexed) and as a departure (old version's (id, seg) tombstoned).
    // Both frames are DELTA-sized: materialize each ONCE (eager
    // checkpoint) — without this, every downstream job (the segment
    // writes, the tombstone append, the emptiness checks) re-runs the
    // whole corpus-vs-artifact diff, and the refresh pays the corpus
    // pass it exists to avoid several times over (RefreshBench)
    val arrivals = curKeys.join(indexed.select("id", "payload_md5"),
      Seq("id", "payload_md5"), "left_anti").localCheckpoint(true)
    val departures = indexed.join(curKeys, Seq("id", "payload_md5"),
      "left_anti").select(col("id"), col("seg")).localCheckpoint(true)
    try {
      val seg =
        if (arrivals.isEmpty) -1
        else appendSegmentAt(coll, g, (s, at) => writeSegment(
          cur.join(broadcast(arrivals.select("id")), Seq("id")), s, at))
      if (!departures.isEmpty) appendTombstones(g, departures)
      clearStale(coll)
      seg
    } finally {
      GraftSqlShims.unpersistCheckpoint(arrivals)
      GraftSqlShims.unpersistCheckpoint(departures)
    }
  }

  /** Append ONE new segment to the current generation without a diff
    * (an admission whose rows are known new). `write(seg, g)` writes the
    * family's frames, DIFF BASE FIRST. Returns the segment number.
    */
  def appendSegment(coll: String)(write: (Int, Path) => Unit): Int =
    appendSegmentAt(coll, at(coll), write)

  /** The segment protocol. The in-flight number rides the stale marker
    * while the frames are written, so a crash between them is healed by
    * the next refresh ([[healInFlight]]) instead of leaving rows without
    * their diff base (the diff base is written first, so every row of an
    * interrupted segment belongs to an id it lists).
    */
  private def appendSegmentAt(coll: String, g: Path,
      write: (Int, Path) => Unit): Int = {
    val hint = field(coll, "max_seg").map(_.toInt)
    val committed = hint.getOrElse(read(g, family.diffBase.name)
      .agg(coalesce(max("seg"), lit(0)).as("m")).head().getInt(0))
    val seg = math.max(committed, inFlight(coll).getOrElse(0)) + 1
    durable("inflight")(writeString(fs, marker(coll), s"segment $seg"))
    write(seg, g)
    // the high-water hint (when the family keeps one) spares the next
    // append a seg-column scan of the artifact — a corpus-row read per
    // streamed micro-batch
    if (hint.isDefined)
      writeMeta(coll, meta(coll).replaceFirst(
        """"max_seg"\s*:\s*\d+""", s""""max_seg":$seg"""))
    markStale(coll)
    seg
  }

  /** The segment a crashed append left in flight, if any. */
  private def inFlight(coll: String): Option[Int] = {
    val m = marker(coll)
    if (!fs.exists(m)) None
    else InFlightRe.findFirstMatchIn(readString(fs, m)).map(_.group(1).toInt)
  }

  /** Tombstone every diff-base row of an interrupted segment: its docs
    * then re-arrive in the refresh that follows, under a fresh number
    * ([[appendSegmentAt]] numbers past the in-flight one).
    */
  private def healInFlight(coll: String, g: Path): Unit =
    inFlight(coll).foreach { n =>
      appendTombstones(g, read(g, family.diffBase.name)
        .filter(col("seg") === n).select("id", "seg"))
    }

  private def appendTombstones(g: Path, dead: DataFrame): Unit =
    durable("tombstones")(dead.write.mode("append")
      .option("compression", GraftDatabase.Compression)
      .parquet(new Path(g, "tombstones").toString))

  /** The one segment-growth policy (ROUTE split segments, attrs
    * segments): past [[AutoCompactKey]] segments (default 64, 0
    * disables) the maintenance step folds the artifact flat — one extra
    * read+write of artifact rows, amortized to ~1/64 of a compaction per
    * appended segment.
    */
  def autoCompactDue(segments: Int): Boolean = {
    val after = spark.conf.getOption(AutoCompactKey).map(_.toInt)
      .getOrElse(64)
    after > 0 && segments > after
  }
}

object SegmentedArtifact {

  /** One stored frame of a family: its directory name under the
    * generation, the schema every read declares, its partition columns.
    */
  final case class Frame(name: String, schema: StructType,
      partitionBy: Seq[String] = Nil)

  /** One sidecar family. `kind` is its LISTINDEXES name and meta `type`,
    * `dirName` its `graft_<dirName>_<coll>` directory, `label`/`rebuild`
    * name it and its build command in errors. The FIRST frame is the
    * refresh diff base `(id, payload_md5, seg, ...)`.
    */
  final case class Family(kind: String, dirName: String, label: String,
      rebuild: String, frames: Seq[Frame], generational: Boolean = true,
      staleable: Boolean = true) {
    def frame(name: String): Frame = frames.find(_.name == name)
      .getOrElse(throw new IllegalArgumentException(
        s"$kind has no frame $name"))
    def diffBase: Frame = frames.head
    def refreshHint: String =
      if (rebuild.startsWith("REINDEX")) s"$rebuild (or mode=refresh)"
      else s"$rebuild mode=refresh"
  }

  private def ddl(s: String): StructType = StructType.fromDDL(s)

  private val DocsSchema = ddl("id BIGINT, payload_md5 STRING, seg INT")
  private val TombstonesSchema = ddl("id BIGINT, seg INT")

  val Postings: Family = Family("postings", "textindex", "postings artifact",
    "REINDEX type=postings", Seq(
      Frame("doclens", ddl("id BIGINT, dl BIGINT, payload_md5 STRING, seg INT")),
      Frame("postings", ddl(
        "term STRING, id BIGINT, tf BIGINT, seg INT, term_bucket INT"),
        Seq("term_bucket")),
      Frame("positions", ddl(
        "term STRING, id BIGINT, pos BIGINT, seg INT, term_bucket INT"),
        Seq("term_bucket"))))

  val Minhash: Family = Family("minhash", "minhash", "minhash artifact",
    "REINDEX type=minhash", Seq(
      Frame("docs", DocsSchema),
      Frame("bands", ddl(
        "id BIGINT, band_key STRING, seg INT, band INT, band_bucket INT"),
        Seq("band", "band_bucket"))))

  val Winsig: Family = Family("winsig", "winsig", "winsig artifact",
    "REINDEX type=winsig", Seq(
      Frame("docs", DocsSchema),
      Frame("sigs", ddl("id BIGINT, win_sig STRING, seg INT, sig_bucket INT"),
        Seq("sig_bucket"))))

  /** Flat and unsegmented: dHash rows carry no diff base, so the family
    * only rebuilds (and ROUTE appends admitted rows in place).
    */
  val Dhash: Family = Family("dhash", "dhash", "dhash artifact",
    "REINDEX type=dhash", Seq(
      Frame("bands", ddl(
        "id BIGINT, sig BIGINT, band INT, key BIGINT, key_bucket INT"),
        Seq("band", "key_bucket"))),
    generational = false)

  /** Never stale: assignments are point-in-time placements by design (a
    * re-SPLIT rebuilds, mutations don't move a doc's split).
    */
  val Splits: Family = Family("splits", "splits", "split sidecar", "SPLIT",
    Seq(Frame("assign", ddl("id BIGINT, rep BIGINT, split STRING"))),
    staleable = false)

  val Attrs: Family = Family("attrs", "attrs", "attribute sidecar", "TAG",
    Seq(Frame("attrs", ddl("id BIGINT, payload_md5 STRING, " +
      "n_tokens BIGINT, lang STRING, quality DOUBLE, n_pii BIGINT, seg INT"))))

  /** The registry: DROP, LISTINDEXES and every mutation walk it. */
  val Families: Seq[Family] = Seq(Postings, Minhash, Winsig, Dhash, Splits,
    Attrs)

  /** The single segment-growth knob ([[SegmentedArtifact.autoCompactDue]]). */
  val AutoCompactKey = "spark.graft.artifacts.autoCompactSegments"

  private val InFlightRe = """segment (\d+)""".r
  private val FieldRe = """"(\w+)"\s*:\s*("[^"]*"|[^,}\s]+)""".r

  /** A flat-JSON meta field's value, strings unquoted. */
  def metaField(meta: String, key: String): Option[String] =
    FieldRe.findAllMatchIn(meta).find(_.group(1) == key)
      .map(_.group(2).stripPrefix("\"").stripSuffix("\""))

  /** The generation pointer a meta records. */
  def genOf(meta: String): Option[Int] = metaField(meta, "gen").map(_.toInt)

  private def gens(fs: FileSystem, dir: Path): Seq[Int] =
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("gen_"))
      .flatMap(n => scala.util.Try(n.drop(4).toInt).toOption)

  /** The next generation number: past every `gen_<g>` directory under
    * `dir`, committed or orphaned.
    */
  def nextGen(fs: FileSystem, dir: Path): Int =
    gens(fs, dir).maxOption.map(_ + 1).getOrElse(0)

  /** Delete every generation under `dir` but `keep` — superseded ones and
    * orphans a crashed commit left (best effort; run after the commit).
    */
  def sweep(fs: FileSystem, dir: Path, keep: Int): Unit =
    gens(fs, dir).filter(_ != keep)
      .foreach(g => fs.delete(new Path(dir, s"gen_$g"), true))

  /** Read a frame with its declared schema; a missing directory is the
    * empty frame (nothing was ever written there). Driver-side listing:
    * artifact frames are tens to hundreds of partition dirs, where the
    * distributed listing job is pure overhead (ScaleKnobs).
    */
  def readFrame(spark: SparkSession, fs: FileSystem, p: Path,
      schema: StructType): DataFrame =
    if (fs.exists(p))
      graft.operators.ScaleKnobs.withDriverListing(spark)(
        spark.read.schema(schema).parquet(p.toString))
    else spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)

  def writeString(fs: FileSystem, p: Path, s: String): Unit = {
    val out = fs.create(p, true)
    try out.write(s.getBytes("UTF-8")) finally out.close()
  }

  def readString(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try {
      val bytes = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { bytes.write(buf, 0, n); n = in.read(buf) }
      new String(bytes.toByteArray, "UTF-8")
    } finally in.close()
  }
}
