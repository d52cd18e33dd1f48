package graft.perfbench

import java.nio.file.{Files, Path, Paths}

/** The harness's own tests: the generator is byte-deterministic per
  * seed, and every output check fails on a deliberately corrupted
  * output. Run with `python3 perfbench/tests/selftest.py`. */
object SelfTest {
  private var failures = 0

  private def expect(name: String, ok: Boolean, detail: => String = ""): Unit = {
    println(s"[selftest] ${if (ok) "ok  " else "FAIL"} $name${if (ok) "" else s" — $detail"}")
    if (!ok) failures += 1
  }
  private def fails(name: String, r: Option[String]): Unit =
    expect(s"$name is caught", r.isDefined, "check passed a corrupted output")
  private def passes(name: String, r: Option[String]): Unit =
    expect(s"$name passes", r.isEmpty, r.getOrElse(""))

  private def flipBit(v: Array[Float], k: Int): Array[Float] = {
    val c = v.clone()
    c(k) = java.lang.Float.intBitsToFloat(java.lang.Float.floatToRawIntBits(c(k)) ^ 1)
    c
  }

  private def bytesOf(dir: Path): Seq[(String, Seq[Byte])] =
    Fs.list(dir).flatMap { p =>
      if (Files.isDirectory(p)) bytesOf(p).map { case (n, b) => (p.getFileName + "/" + n, b) }
      else Seq(p.getFileName.toString -> Files.readAllBytes(p).toSeq)
    }

  def main(args: Array[String]): Unit = {
    val root = Paths.get(args.headOption.getOrElse(".")).toAbsolutePath
    val work = root.resolve(".bench_build").resolve("perfbench").resolve("selftest")
    Fs.rmrf(work)
    Files.createDirectories(work)
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = Main.session(work, cores)
    spark.sparkContext.setLogLevel("ERROR")
    try {
      generator(spark, work)
      checks()
      livePg(Ctx(spark, work, 7L, cores))
    } finally spark.stop()
    println(s"[selftest] ${if (failures == 0) "ALL PASSED" else s"$failures FAILED"}")
    sys.exit(if (failures == 0) 0 else 1)
  }

  /** Same seed → identical bytes (in memory and on disk); another seed → different. */
  def generator(spark: org.apache.spark.sql.SparkSession, work: Path): Unit = {
    def files(seed: Long, tag: String) = {
      val d = work.resolve(s"gen-$tag")
      val inc = Gen.incremental(seed)
      Gen.writeParquet(spark, Gen.embRows(inc.source), Gen.EmbSchema, d, "source")
      Gen.writeParquet(spark, Gen.corpus(seed).docs.map(x => org.apache.spark.sql.Row(x.id, x.text)),
        Gen.DocSchema, d, "docs")
      bytesOf(d)
    }
    val a = files(11, "a"); val b = files(11, "b"); val c = files(12, "c")
    expect("generator: same seed gives byte-identical parquet", a == b)
    expect("generator: another seed gives other bytes", a != c)
    val (e1, e2) = (Gen.embeddings(3, 5, 100), Gen.embeddings(3, 5, 100))
    expect("generator: same seed gives identical embeddings",
      e1.zip(e2).forall { case (x, y) => x.id == y.id && x.meta == y.meta &&
        java.util.Arrays.equals(x.vec, y.vec) })
    val c1 = Gen.corpus(5); val c2 = Gen.corpus(5)
    expect("generator: same seed gives identical corpus and planted groups",
      c1.docs == c2.docs && c1.exactGroups == c2.exactGroups && c1.nearClusters == c2.nearClusters)
    val inc = Gen.incremental(5)
    expect("generator: planted delta is 5% changed + 1% new",
      inc.changed.size == math.round(Gen.PgRows * Gen.IncrChangedShare) &&
        inc.added.size == math.round(Gen.PgRows * Gen.IncrNewShare))
  }

  /** The pure checks against corrupted copies of correct outputs. */
  def checks(): Unit = {
    val rows = Gen.embeddings(9, 1, 200)
    val want = Checks.expected(rows)
    val good = rows.map(e => (e.id.toString, e.vec, e.meta))
    passes("pg checksum: the intact table", Checks.pgTable(good, want))
    fails("pg checksum: one row dropped", Checks.pgTable(good.tail, want))
    fails("pg checksum: one vector bit flipped",
      Checks.pgTable(good.updated(17, good(17).copy(_2 = flipBit(good(17)._2, 3))), want))
    fails("pg checksum: one metadata value changed",
      Checks.pgTable(good.updated(5, good(5).copy(_3 = good(5)._3.updated("lang", "xx"))), want))
    fails("pg checksum: one row duplicated", Checks.pgTable(good :+ good.head, want))

    val sink = rows.map(e => e.id.toString -> e.vec)
    passes("vector sink: exactly the filtered ids, bit-exact", Checks.vectorSink(sink, rows))
    fails("vector sink: one row dropped", Checks.vectorSink(sink.tail, rows))
    fails("vector sink: one vector bit flipped",
      Checks.vectorSink(sink.updated(40, sink(40)._1 -> flipBit(sink(40)._2, 0)), rows))
    fails("vector sink: one id outside the filter", Checks.vectorSink(sink :+ ("x1" -> sink.head._2), rows))

    val corpus = Gen.corpus(9)
    val planted = corpus.exactGroups.flatten.toSet
    val kept = corpus.docs.map(_.id).filterNot(id => planted(id) || corpus.junk(id)).toSet ++
      corpus.exactGroups.map(_.head)
    passes("curation: one member per exact-duplicate group", Checks.curated(kept, corpus))
    fails("curation: one planted duplicate kept", Checks.curated(kept + corpus.exactGroups.head(1), corpus))
    fails("curation: a whole exact group dropped", Checks.curated(kept - corpus.exactGroups.head.head, corpus))
    fails("curation: a junk document kept", Checks.curated(kept + corpus.junk.head, corpus))
  }

  /** The live checks: a real migration into PostgreSQL, then the sink is
    * corrupted in place and the workload's own check must fail. */
  def livePg(ctx: Ctx): Unit = {
    val w = new MigratePg(ctx)
    w.generate()
    w.prepare()
    try {
      val out = w.run()
      passes("migrate, pg part: the migrated table", w.check(out))
      val pg = w.pg
      fails("migrate, pg part: a report that ships one record more than the planted delta",
        w.check(out.copy(reports = out.reports.updated(1, out.reports(1).copy(written = out.reports(1).written + 1)))))
      pg.sql("bench")(_.query("DELETE FROM emb WHERE id = (SELECT min(id) FROM emb)"))
      fails("migrate, pg part: one row dropped from the sink", w.check(out))
      w.run()
      val (id, vec) = pg.sql("bench")(_.query("SELECT id, vector FROM emb ORDER BY id LIMIT 1").rows.head) match {
        case Seq(i, v) => (i, Checks.parseVector(v))
      }
      val flipped = flipBit(vec, 7).mkString("[", ",", "]")
      pg.sql("bench")(_.query(s"UPDATE emb SET vector = '$flipped' WHERE id = '$id'"))
      fails("migrate, pg part: one vector bit flipped in the sink", w.check(out))
    } finally w.teardown()
  }
}
