package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** The benchmark's own tests: `graftbench.SelfTest <work dir>` (run by
  * `perfbench/test.py`). Checks that inputs are a pure function of the
  * seed, that every checker rejects a perturbed result, and that the
  * tracer attributes jobs to the modules that run them. Exits 1 on any
  * failure.
  */
object SelfTest {
  private var failures = 0

  private def check(name: String)(ok: => Boolean): Unit = {
    val pass = try ok catch { case e: Throwable => System.err.println(e); false }
    if (!pass) failures += 1
    println(s"${if (pass) "PASS" else "FAIL"} $name")
  }

  /** Every input file a seed produces, relative path → bytes. */
  private def inputs(dir: Path, seed: Long): Map[String, Seq[Byte]] = {
    Disk.deleteTree(dir)
    val g = new Gen(seed)
    Disk.writeVecText(dir.resolve("serve.vec"), g.records(10, 300))
    Disk.writeQueryParquet(dir.resolve("q.parquet"), Seq.fill(8)(g.vector(new java.util.Random(seed))))
    Disk.writeDocParquet(dir.resolve("docs.parquet"), g.corpus(40, 200))
    val s = Files.walk(dir)
    try s.iterator.asScala.filter(Files.isRegularFile(_))
      .map(p => dir.relativize(p).toString -> Files.readAllBytes(p).toSeq).toMap
    finally s.close()
  }

  def main(args: Array[String]): Unit = {
    val work = Paths.get(args(0)).toAbsolutePath
    Disk.deleteTree(work)

    // ---- generator
    val a = inputs(work.resolve("gen_a"), 7)
    val b = inputs(work.resolve("gen_b"), 7)
    val c = inputs(work.resolve("gen_c"), 8)
    check("same seed gives byte-identical inputs")(a.keySet == b.keySet && a == b)
    check("another seed gives different inputs")(a.keySet == c.keySet &&
      a.keySet.forall(k => a(k) != c(k)))
    val docs = new Gen(7).corpus(40, 2000)
    val texts = docs.map(_.text)
    check("corpus has about 10% exact duplicates")(
      math.abs(texts.length - texts.distinct.length - 200) < 60)
    check("corpus has about 20% non-en docs")(
      math.abs(docs.count(_.lang != "en") - 400) < 80)

    // ---- checkers
    val recs = new Gen(7).records(10, 500)
    val q = recs(3).vec
    val want = Checks.ranked(recs, q, "cosine")
    val top = want.take(10)
    check("topK accepts the exact answer")(Checks.topK(top, want, 10, true, 1e-5).isEmpty)
    check("topK rejects a swapped-in id")(
      Checks.topK(top.updated(9, want(20)), want, 10, true, 1e-5).nonEmpty)
    check("topK rejects a wrong score")(
      Checks.topK(top.updated(2, (top(2)._1, top(2)._2 + 0.01)), want, 10, true, 1e-5).nonEmpty)
    check("topK rejects a short answer")(Checks.topK(top.take(9), want, 10, true, 1e-5).nonEmpty)
    check("topK rejects out-of-order rows")(
      Checks.topK(top.reverse, want, 10, true, 1e-5).nonEmpty)
    val bm = new Checks.Bm25(recs.map(r => (r.id, r.payload)))
    val terms = recs(0).payload.split(' ').take(2).toSeq.distinct
    val bw = bm.scores(terms)
    check("BM25 scorer ranks a doc holding the terms")(bw.nonEmpty && bw.exists(_._1 == 0L))
    check("topK over BM25 rejects a perturbed score")(
      Checks.topK(bw.take(10).updated(0, (bw.head._1, bw.head._2 * 1.01)), bw, 10, true, 2e-6).nonEmpty)
    val rows = recs.take(5).map(r => (r.id, r.payload)).toSeq
    check("sameRows accepts a permutation")(Checks.sameRows(rows.reverse, rows).isEmpty)
    check("sameRows rejects a changed payload")(
      Checks.sameRows(rows.updated(1, (rows(1)._1, rows(1)._2 + " x")), rows).nonEmpty)
    check("sameRows rejects a missing duplicate")(
      Checks.sameRows(rows, rows :+ rows.head).nonEmpty)
    check("recall counts partial overlap")(
      Checks.recall(Seq(1L, 2L, 3L, 9L), Seq(1L, 2L, 3L, 4L)) == 0.75)

    // ---- attribution, on a real session
    check("a call site maps to its module and object")(
      Tracer.moduleOf("org.apache.spark.X.y(X.scala:1)\ngraft.operators.Dedup$.spanDedup(Dedup.scala:9)\ngraftbench.Main$.main(M.scala:1)")
        .contains(("operators", "Dedup")) &&
        Tracer.moduleOf("graftbench.Client.run(W.scala:3)").isEmpty)
    val spark = Main.session()
    val tracer = new Tracer(spark, enabled = true)
    tracer.attach()
    val ctx = new Ctx(spark, work.resolve("run"), 7, 0.05, tracer)
    val build = new Build(ctx)
    build.setup() // a warm-up pass over a tiny corpus, traced
    build.window(0) // one recorded pass
    Disk.write(work.resolve("oracle.json"), build.oracleRequest)
    val db = graft.core.GraftDatabase.create(spark, work.resolve("stats").toString, "db")
    val client = new Client(ctx, db)
    client.run("create", "write", None, "CREATE", Some("c"))
    client.run("insert", "write", Some("c"), "INSERT", Some("1;0.5,0.25;hello world"))
    client.run("stats", "read", Some("c"), "STATS", None)
    tracer.drain()
    // only a job attributed from a call site (its own or its SQL
    // execution's) counts: the fallback is the layer the bench was calling
    val jobs = tracer.jobs.values.asScala.toSeq.filter(_.via != "fallback")
    def opsOf(kinds: String*) = tracer.ops.filter(o => kinds.contains(o.kind)).map(_.id).toSet
    check("a stats op puts at least one job under core")(
      jobs.exists(j => opsOf("stats")(j.op) && j.layer == "core"))
    check("a build pass puts jobs under operators")(
      jobs.exists(j => opsOf("reindex_ivfpq", "pretrain")(j.op) && j.layer == "operators"))
    check("the embedding step puts jobs under pipeline")(
      jobs.exists(j => opsOf("embed")(j.op) && j.layer == "pipeline"))
    check("the traced build passes failed no operation")(ctx.log.failed == 0)
    spark.stop()
    println(s"${if (failures == 0) "OK" else s"$failures FAILED"}")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
