package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.Encoders
import org.apache.spark.sql.functions._

/** `Sweep` on small inputs: a two-gate smoke run, outcome classification,
  * the over-budget cancel, and properties of the generated fixtures. */
class SweepSpec extends SparkSpec {
  import spark.implicits._

  private val made = scala.collection.mutable.ArrayBuffer.empty[java.io.File]

  private def outDir(): String = {
    Files.createDirectories(Paths.get("target/tmp"))
    val dir = Files.createTempDirectory(Paths.get("target/tmp"), "sweep-spec")
    made += dir.toFile
    dir.toString
  }

  override def afterAll(): Unit =
    try made.foreach(org.apache.commons.io.FileUtils.deleteDirectory)
    finally super.afterAll()

  private def shapes(names: String*): Seq[Sweep.Shape] =
    Sweep.shapes(factor = 2).filter(s => names.contains(s.name))

  test("smoke: two gates over base and empty, report and plans written") {
    val out = outDir()
    val gates = Seq("q1_agg", "q_text_stats").map(n => n -> SparkEntry.queries(n))
    val rows = Sweep.run(spark, sf(), out, gates, shapes("base", "empty"), samples = 1).toMap
    assert(rows.keySet == Set("q1_agg", "q_text_stats"))
    rows.foreach { case (g, row) =>
      assert(row.map(_._1) == Seq("base", "empty"), g)
      row.foreach { case (shape, c) => assert(c.outcome == "ok", s"$g/$shape: $c") }
      assert(Files.readString(Paths.get(out, "plans", s"$g.txt")).contains("Physical Plan"))
    }
    val json = Files.readString(Paths.get(out, "sweep.json"))
    assert(json.contains("\"outcomes\": {\"ok\": 4}"), json)
    // the empty shape is a fixture written under the out dir, base is read in place
    assert(Files.isDirectory(Paths.get(out, "fixtures", "empty", "lineitem.parquet")))
    assert(!Files.exists(Paths.get(out, "fixtures", "base")))
  }

  test("an NPE is a crash and the sweep keeps going; IllegalArgumentException is typed") {
    val gates: Seq[(String, Sweep.Gate)] = Seq(
      "a_npe_driver" -> ((_, _) => throw new NullPointerException("stub")),
      "b_npe_task" -> ((s, _) => s.range(4).map((i: java.lang.Long) => {
        if (i.longValue == 3) throw new NullPointerException("stub"); i.longValue
      })(Encoders.scalaLong).toDF()),
      "c_iae" -> ((_, _) => throw new IllegalArgumentException("bad input")),
      "d_config" -> ((_, _) => throw new graft.config.ConfigException("bad config")),
      "e_ok" -> SparkEntry.queries("q1_agg"))
    val rows = Sweep.run(spark, sf(), outDir(), gates, shapes("base"), samples = 1).toMap
    assert(rows.map { case (g, r) => g -> r.head._2.outcome } == Map(
      "a_npe_driver" -> "crash", "b_npe_task" -> "crash", "c_iae" -> "typed",
      "d_config" -> "typed", "e_ok" -> "ok"))
    assert(rows("c_iae").head._2.error.exists(_.contains("bad input")))
    // a typed wrapper around a crash is still a crash
    assert(Sweep.classify(new IllegalStateException("wrap", new ClassCastException)) == "crash")
    assert(Sweep.classify(new RuntimeException("untyped")) == "crash")
  }

  test("a run past its cap is cancelled through its job group and reported over_budget") {
    val slow: Sweep.Gate = (s, _) =>
      s.range(0, 2, 1, 2).map((i: java.lang.Long) => { Thread.sleep(120000); i.longValue
      })(Encoders.scalaLong).toDF()
    val t0 = System.nanoTime()
    val rows = Sweep.run(spark, sf(), outDir(), Seq("slow" -> slow,
      "after" -> SparkEntry.queries("q1_agg")), shapes("base"), samples = 1, cap = 2.0).toMap
    assert((System.nanoTime() - t0) / 1e9 < 60, "the cancel did not stop the run")
    assert(rows("slow").head._2.outcome == "over_budget")
    assert(rows("after").head._2.outcome == "ok")
  }

  test("gates the sweep found crashing now finish ok or fail typed") {
    val rows = Sweep.run(spark, sf(), outDir(), Seq(
        "q_connector_search", "q_connector_search_hamming", "q_kmeans_centroids",
        "q_vec_pq", "q_scan_filter", "q_ann_mmr").map(n => n -> SparkEntry.queries(n)),
      shapes("base", "empty", "vec_null", "vec_mixed", "factor"), samples = 1).toMap
    rows.foreach { case (g, row) => row.foreach { case (shape, c) =>
      assert(c.outcome == "ok" || c.outcome == "typed", s"$g/$shape: $c")
    } }
    assert(rows("q_connector_search").toMap.apply("empty").outcome == "typed")
    assert(rows("q_vec_pq").toMap.apply("vec_mixed").outcome == "typed")
  }

  test("superlinear: the docs_64x time past 12x the docs_8x time") {
    def row(t8: Double, t64: Double, o: String = "ok") =
      Seq("docs_8x" -> Sweep.Cell("ok", t8), "docs_64x" -> Sweep.Cell(o, t64))
    assert(Sweep.superlinear(row(1.0, 12.5)))
    assert(!Sweep.superlinear(row(1.0, 11.5)))
    // an over-budget time is a lower bound: past 12x it settles the flag
    assert(Sweep.superlinear(row(1.0, 60.0, "over_budget")))
    assert(!Sweep.superlinear(row(10.0, 60.0, "over_budget")))
    assert(!Sweep.superlinear(row(1.0, 60.0, "crash")))
  }

  test("fixtures: empty keeps the schema, 64x text, a 90% key, one 10k-document chain") {
    val out = Paths.get(outDir(), "fixtures")
    val built = shapes("empty", "docs_64x", "skew", "chain").map { s =>
      val dir = out.resolve(s.name).toString
      s.build(spark, sf(), dir)
      s.name -> dir
    }.toMap
    def table(dir: String, t: String) = Tables(spark, dir, t)
    Tables.names.foreach { t =>
      val e = table(built("empty"), t)
      assert(e.count() == 0, t)
      assert(e.schema == table(sf(), t).schema, t)
    }
    def chars(dir: String) = table(dir, "documents")
      .agg(sum(length(col("text")))).head().getLong(0)
    assert(chars(built("docs_64x")) == 64 * chars(sf()))
    for ((t, key, hot) <- Seq(("events", "user_id", "0"), ("documents", "source", "src0"),
        ("embeddings", "label", "0"))) {
      val df = table(built("skew"), t)
      val share = df.where(col(key).cast("string") === hot).count().toDouble / df.count()
      assert(share >= 0.9 && share < 1, s"$t.$key: $share")
      assert(df.count() == table(sf(), t).count())
    }
    // the chain: word sets of neighbours overlap past 0.8 Jaccard, so
    // union-find over neighbours links all 10k into one component
    val docs = table(built("chain"), "documents")
    assert(docs.count() == table(sf(), "documents").count() + Sweep.chainLength)
    val chain = docs.where(col("source") === "chain").orderBy("doc_id")
      .select("text").as[String].collect().map(_.split(" ").toSet)
    assert(chain.length == Sweep.chainLength)
    val parent = Array.tabulate(chain.length)(identity)
    def root(i: Int): Int = if (parent(i) == i) i else { parent(i) = root(parent(i)); parent(i) }
    chain.indices.tail.foreach { i =>
      val (a, b) = (chain(i - 1), chain(i))
      if ((a & b).size.toDouble / (a | b).size > 0.8) parent(root(i)) = root(i - 1)
    }
    assert(chain.indices.map(root).distinct.length == 1)
    // and the chain is long: its ends share no word
    assert((chain.head & chain.last).isEmpty)
  }
}
