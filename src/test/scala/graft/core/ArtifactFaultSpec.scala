package graft.core

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Crash safety of the shared sidecar lifecycle ([[SegmentedArtifact]]),
  * proven once over every segmented family:
  *
  *  - each build, refresh and compaction is crashed after every one of
  *    its durable steps in turn (the artifact's `armCrash` hook), each
  *    time on a fresh copy of the same database;
  *  - after every crash a LIVE artifact holds exactly the rows of a full
  *    rebuild (a stale or absent one falls back, so its readers still
  *    answer exactly) — never a half-written generation or segment;
  *  - the next refresh (or compaction, or rebuild when nothing was
  *    committed) yields exactly the rows of a full rebuild;
  *  - the mutation history includes a doc updated A→B→A, whose dead
  *    seg-0 version stays tombstoned through every crash (tombstones are
  *    appended, never rewritten);
  *  - splits: a crash anywhere in a SPLIT base commit or a compaction
  *    leaves the old assignments or the new ones;
  *  - DROP removes every reserved path of the collection.
  */
class ArtifactFaultSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val Coll = "docs"

  private val v0 = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank"),
    (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda"),
    (3L, "one two three four five six seven eight nine ten eleven twelve"),
    (4L, "red orange yellow green blue indigo violet cyan magenta white x"),
    (5L, "der hund und die katze ist nicht das haus aber der garten ist"))

  private val textB = "a rewritten payload that shares nothing with its first version"

  private def freshDb(rows: Seq[(Long, String)]): GraftDatabase = {
    val d = GraftDatabase.create(spark,
      Files.createTempDirectory("graft_fault").toString, "db")
    d.createCollection(Coll, StructType(Seq(
      StructField("id", LongType), StructField("payload", StringType))))
    d.bulkInsert(Coll, rows.toDF("id", "payload"))
    d
  }

  /** An independent copy of `d` (its whole root): every crash starts
    * from the same state.
    */
  private def copyOf(d: GraftDatabase): GraftDatabase = {
    val to = Files.createTempDirectory("graft_fault_copy").resolve("db")
    org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(d.root.toUri.getPath), to.toFile)
    GraftDatabase.open(spark, to.toString)
  }

  /** One family under test: its lifecycle operations and a reader whose
    * answer must never change because of a crash (`staleServes`: the
    * reader also answers — by its fallback — while the artifact is
    * stale).
    */
  private case class Fam(family: SegmentedArtifact.Family,
      build: GraftDatabase => Unit, refresh: GraftDatabase => Unit,
      compact: GraftDatabase => Unit, serve: GraftDatabase => Seq[String],
      staleServes: Boolean = true)

  /** The artifact's live content — every present frame's rows with the
    * tombstoned versions dropped, `seg` aside — as sorted strings.
    */
  private def content(d: GraftDatabase, f: SegmentedArtifact.Family): Seq[String] = {
    val a = d.sidecar(f)
    val g = a.at(Coll)
    val fs = g.getFileSystem(spark.sessionState.newHadoopConf())
    f.frames.filter(fr => fs.exists(new Path(g, fr.name))).flatMap { fr =>
      val rows = a.liveRows(g, fr.name)
      rows.select(rows.columns.filter(_ != "seg").sorted.map(col): _*)
        .collect().map(r => s"${fr.name}:$r")
    }.sorted
  }

  private def segments(d: GraftDatabase, f: SegmentedArtifact.Family): Set[Int] = {
    val a = d.sidecar(f)
    val g = a.at(Coll)
    val fs = g.getFileSystem(spark.sessionState.newHadoopConf())
    f.frames.map(_.name).filter(n => fs.exists(new Path(g, n)))
      .flatMap(n => a.read(g, n).select("seg").distinct().as[Int].collect())
      .toSet
  }

  /** The full-rebuild oracle over `d`'s current collection rows. */
  private def rebuilt(d: GraftDatabase, fam: Fam): (Seq[String], Seq[String]) = {
    val twin = freshDb(d.read(Coll).select("id", "payload")
      .as[(Long, String)].collect().toSeq)
    fam.build(twin)
    (content(twin, fam.family), fam.serve(twin))
  }

  /** Crash `op` after each of its durable steps on a fresh copy of
    * `start`; check the reader invariant at the crash point, heal, and
    * compare with the full rebuild. Returns the number of steps.
    */
  private def crashEveryStep(start: GraftDatabase, fam: Fam, what: String)
      (op: GraftDatabase => Unit)(heal: GraftDatabase => Unit): Int = {
    val (oracle, answer) = rebuilt(start, fam)
    var n = 1
    var done = false
    while (!done) {
      val d = copyOf(start)
      val a = d.sidecar(fam.family)
      a.armCrash(n)
      try {
        op(d)
        done = true
        a.disarm()
      } catch {
        case e: IllegalStateException
            if e.getMessage.startsWith("injected crash") => ()
      }
      val where = s"${fam.family.kind} $what, crash after step $n"
      if (!done) {
        if (a.isLive(Coll))
          assert(content(d, fam.family) == oracle,
            s"$where: a live artifact must hold exactly the full rebuild")
        if (a.isLive(Coll) || fam.staleServes)
          assert(fam.serve(d) == answer, s"$where: readers must not change")
        heal(d)
      }
      assert(a.isLive(Coll), s"$where: the heal must leave it live")
      assert(content(d, fam.family) == oracle,
        s"$where: the next maintenance must equal a full rebuild")
      assert(fam.serve(d) == answer, s"$where: served answer after heal")
      n += 1
    }
    n - 1
  }

  /** Refresh when committed, rebuild when nothing was. */
  private def healOf(fam: Fam)(d: GraftDatabase): Unit =
    if (!d.sidecar(fam.family).exists(Coll)) fam.build(d)
    else if (d.sidecar(fam.family).isStale(Coll)) fam.refresh(d)

  /** build / refresh / compact, each crashed at every step, over a
    * history with an A→B→A update, a delete and an insert.
    */
  private def lifecycle(fam: Fam): Unit = {
    val base = freshDb(v0)
    val builds = crashEveryStep(base, fam, "build")(fam.build)(healOf(fam))
    fam.build(base)
    base.update(Coll, Seq((2L, textB)).toDF("id", "payload"))
    fam.refresh(base)
    base.update(Coll, Seq((2L, v0(1)._2)).toDF("id", "payload"))
    base.delete(Coll, col("id") === 3L)
    base.bulkInsert(Coll, Seq((6L, "six new words arrive at the very end here"))
      .toDF("id", "payload"))
    val refreshes = crashEveryStep(base, fam, "refresh")(fam.refresh)(healOf(fam))
    fam.refresh(base)
    assert(segments(base, fam.family).size > 1, "churn must leave segments")
    val compacts = crashEveryStep(base, fam, "compact")(fam.compact) { d =>
      fam.compact(d)
      assert(segments(d, fam.family) == Set(0), "compaction folds flat")
    }
    assert(builds >= 3 && refreshes >= 4 && compacts >= 3,
      s"every operation takes several durable steps: $builds/$refreshes/$compacts")
  }

  private val batch = Seq(
    (100L, "the quick brown fox jumps over the lazy dog near the river bank"),
    (101L, "completely unrelated words that match no stored document at all"))

  test("postings: a crash after any step never serves a mix; the next maintenance equals a full rebuild") {
    lifecycle(Fam(SegmentedArtifact.Postings,
      _.reindexPostings(Coll, buckets = 4, positions = true),
      _.refreshPostings(Coll), _.compactPostings(Coll),
      d => d.searchText(Coll, Seq("the", "payload", "words"), k = 10)
        .collect().map(_.toString).toSeq ++
        d.searchPhrase(Coll, Seq("lazy", "dog")).collect().map(_.toString)))
  }

  test("minhash: a crash after any step never serves a mix; the next maintenance equals a full rebuild") {
    lifecycle(Fam(SegmentedArtifact.Minhash,
      _.reindexMinhash(Coll, buckets = 4),
      _.refreshMinhash(Coll), _.compactMinhash(Coll),
      d => d.screenDupes(Coll, batch.toDF("id", "payload"))
        .orderBy("a_id", "b_id").collect().map(_.toString).toSeq))
  }

  test("winsig: a crash after any step never serves a mix; the next maintenance equals a full rebuild") {
    lifecycle(Fam(SegmentedArtifact.Winsig,
      _.reindexWinsig(Coll, minTokens = 4, buckets = 4),
      _.refreshWinsig(Coll), _.compactWinsig(Coll),
      d => d.screenSubstrings(Coll, batch.toDF("id", "payload"),
          defaultMinTokens = 4)
        .orderBy("id").collect().map(_.toString).toSeq))
  }

  test("attrs: a crash after any step never serves a mix; the next maintenance equals a full rebuild") {
    // docAttrs reads a stale sidecar as-is (its consumers refuse), so
    // only a live sidecar's answer is compared
    lifecycle(Fam(SegmentedArtifact.Attrs,
      _.reindexAttrs(Coll), _.refreshAttrs(Coll), _.compactAttrs(Coll),
      _.docAttrs(Coll).orderBy("id").collect().map(_.toString).toSeq,
      staleServes = false))
  }

  test("tombstones are append-only: a doc updated A→B→A keeps exactly one live version") {
    val d = freshDb(v0)
    d.reindexAttrs(Coll)
    d.update(Coll, Seq((2L, textB)).toDF("id", "payload"))
    d.refreshAttrs(Coll)
    d.update(Coll, Seq((2L, v0(1)._2)).toDF("id", "payload"))
    // the second refresh crashes right after its segment lands: the
    // committed seg-0 tombstone must survive the interrupted refresh
    d.sidecar(SegmentedArtifact.Attrs).armCrash(4)
    intercept[IllegalStateException](d.refreshAttrs(Coll))
    d.refreshAttrs(Coll)
    val a = d.sidecar(SegmentedArtifact.Attrs)
    val dead = a.tombstones(a.at(Coll)).filter(col("id") === 2L)
      .select("seg").as[Int].collect().toSet
    assert(dead == Set(0, 1), s"both dead versions stay tombstoned: $dead")
    assert(d.docAttrs(Coll).filter(col("id") === 2L).count() == 1L)
    assert(d.docAttrs(Coll).count() == v0.size.toLong)
  }

  test("splits: a crash anywhere in a base commit or compaction leaves the old or the new assignments") {
    val base = freshDb(v0)
    base.reindexMinhash(Coll, buckets = 4)
    base.buildSplits(Coll)
    base.routeArrivals(Coll, Seq((50L,
      "zork quux fnord blarg wibble wobble flib glorp snark quib"))
      .toDF("id", "payload")).collect()
    def assignments(d: GraftDatabase): Seq[(Long, Long, String)] =
      d.splitAssignments(Coll).as[(Long, Long, String)].collect().sortBy(_._1).toSeq
    val before = assignments(base)
    val rebuiltTwin = copyOf(base)
    rebuiltTwin.buildSplits(Coll)
    val after = assignments(rebuiltTwin)
    assert(before.exists(_._1 == 50L))
    for ((what, op) <- Seq[(String, GraftDatabase => Unit)](
        "re-SPLIT" -> (_.buildSplits(Coll)), "compact" -> (_.compactSplits(Coll)))) {
      val goal = if (what == "compact") before else after
      var n = 1
      var done = false
      while (!done) {
        val d = copyOf(base)
        val a = d.sidecar(SegmentedArtifact.Splits)
        a.armCrash(n)
        try { op(d); done = true; a.disarm() }
        catch {
          case e: IllegalStateException
              if e.getMessage.startsWith("injected crash") => ()
        }
        val seen = assignments(d)
        assert(seen == before || seen == goal,
          s"$what, crash after step $n: old or new assignments, never a mix")
        if (!done) op(d)
        assert(assignments(d) == goal, s"$what after step $n: the retry commits")
        n += 1
      }
      assert(n > 3, s"$what takes several durable steps")
    }
  }

  test("DROP removes every reserved path — a crashed rewrite's trash cannot resurrect dropped rows") {
    val d = freshDb(v0)
    d.reindexPostings(Coll, buckets = 4)
    d.reindexAttrs(Coll)
    d.markBatchApplied(Coll, "b1")
    // a rewrite that crashed after its swap but before deleting the
    // trash: the old version sits whole in graft_trash_<name>
    val fs = d.root.getFileSystem(spark.sessionState.newHadoopConf())
    val trash = new Path(d.root, s"${GraftDatabase.ReservedPrefix}trash_$Coll")
    org.apache.hadoop.fs.FileUtil.copy(fs, new Path(d.root, Coll), fs, trash,
      false, spark.sessionState.newHadoopConf())
    d.dropCollection(Coll)
    val left = fs.listStatus(d.root).map(_.getPath.getName)
      .filter(n => n == Coll || n.endsWith(s"_$Coll"))
    assert(left.isEmpty, s"DROP left reserved paths: ${left.mkString(", ")}")
    d.createCollection(Coll, StructType(Seq(
      StructField("id", LongType), StructField("payload", StringType))))
    assert(d.read(Coll).count() == 0L, "the dropped rows must not come back")
  }
}
