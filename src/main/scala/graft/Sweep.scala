package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shape sweep: every `SparkEntry` gate, plus every `Bench.benchOnly`
  * entry (keyed `bench.<name>`), over generated shape fixtures, each run
  * timed as a materialized `write.format("noop")`.
  *
  * Usage: `runMain graft.Sweep <sfDir> <outDir> [factor] [samples] [gate ...]`
  * (defaults: factor 10, samples 3, every gate). The full run over the
  * sf0.001 fixtures takes at most 45 min on a 4-core host.
  *
  * Fixtures go to `<outDir>/fixtures` (keep `outDir` under `target/`):
  * the base tables with the named ones changed — `empty` (every table),
  * `vec_null`, `vec_zero`, `vec_mixed` (odd ids at half the dimension),
  * `docs_8x`, `docs_64x` (texts repeated), `unicode`, `chain` (documents
  * plus [[chainDocs]]), `skew` (one key holds 90% of the rows of events,
  * documents and embeddings), `factor` (`BenchGen.replicate`); `base` is
  * `sfDir`. `<outDir>/sweep.json`, rewritten after every gate, holds each
  * gate × shape's median time and outcome (see [[classify]]): `ok` (same
  * column names and types as on `base`), `typed`, `crash` (also a schema
  * that differs from `base`'s) or `over_budget` (job group cancelled after
  * [[capSeconds]]), and per gate [[superlinear]]. Each gate's formatted
  * plan on `base` goes to `<outDir>/plans/<gate>.txt`.
  */
object Sweep {
  type Gate = (SparkSession, String) => DataFrame

  /** Wall-time cap of one run; past it the run's job group is cancelled. */
  val capSeconds = 60.0

  /** A fixture: `build(spark, baseDir, shapeDir)` writes the shape's tables. */
  final case class Shape(name: String, build: (SparkSession, String, String) => Unit)

  final case class Cell(outcome: String, seconds: Double, error: Option[String] = None)

  /** The base tables with `changes` applied to the tables they name. */
  private def changed(name: String, changes: Map[String, DataFrame => DataFrame]): Shape =
    Shape(name, (spark, base, dir) => Tables.names.foreach { t =>
      changes.getOrElse(t, identity[DataFrame] _)(spark.read.parquet(s"$base/$t.parquet"))
        .coalesce(1).write.parquet(s"$dir/$t.parquet")
    })

  private def texts(f: DataFrame => DataFrame): Map[String, DataFrame => DataFrame] =
    Map("documents" -> (df => f(df).withColumn("n_chars", length(col("text")).cast("long"))))

  private def vectors(e: String): Map[String, DataFrame => DataFrame] =
    Map("embeddings" -> (_.withColumn("embedding", expr(e))))

  /** Every row whose id is not a multiple of 10 takes `key`'s hot value. */
  private def hot(id: String, key: String, value: Any): DataFrame => DataFrame =
    df => df.withColumn(key, when(col(id) % 10 =!= 0, lit(value)).otherwise(col(key)))

  val chainLength = 10000

  /** `chainLength` documents; document i holds words i .. i+23, so each
    * shares 21 of its 23 word 3-shingles with the next: one near-dup
    * component of large diameter. */
  def chainDocs(spark: SparkSession): DataFrame =
    spark.range(chainLength).select((col("id") + lit(1L << 40)).as("doc_id"),
      concat_ws(" ", transform(sequence(col("id"), col("id") + 23),
        j => concat(lit("ch"), conv(j.cast("string"), 10, 36)))).as("text"),
      lit("en").as("lang"), lit("chain").as("source"))

  /** Per `doc_id % 8`: combining marks, astral characters, zero-width and
    * bidi controls, whitespace runs, whitespace only, empty, null, and a
    * BOM with look-alike letters. */
  private def unicode(df: DataFrame): DataFrame = {
    val t = col("text")
    val variants = Seq(
      regexp_replace(t, "(\\w)", "$1\u0301"),
      regexp_replace(t, " ", " \uD83D\uDE00\uD834\uDD1E "),
      regexp_replace(t, " ", "\u200B\u200F\u202E "),
      regexp_replace(t, " ", " \t\n\r\u00A0\u3000  "),
      lit(" \t \n "), lit(""), lit(null).cast("string"),
      concat(lit("\uFEFF  "), translate(t, "aeo", "\uFF41\u0435\u03BF"), lit(" \r\n")))
    val v = pmod(col("doc_id"), lit(variants.length.toLong))
    df.withColumn("text", variants.indices.tail.foldLeft(when(v === 0, variants.head))(
      (c, i) => c.when(v === i, variants(i))))
  }

  def shapes(factor: Int): Seq[Shape] = Seq(
    Shape("base", (_, _, _) => ()),
    changed("empty", Tables.names.map(_ -> ((df: DataFrame) => df.limit(0))).toMap),
    changed("vec_null", vectors("CAST(NULL AS array<float>)")),
    changed("vec_zero", vectors("transform(embedding, x -> CAST(0 AS float))")),
    changed("vec_mixed", vectors(
      "IF(vec_id % 2 = 1, slice(embedding, 1, size(embedding) div 2), embedding)")),
    changed("docs_8x", texts(_.withColumn("text", expr("repeat(text, 8)")))),
    changed("docs_64x", texts(_.withColumn("text", expr("repeat(text, 64)")))),
    changed("unicode", texts(unicode)),
    changed("chain", texts(df => df.unionByName(chainDocs(df.sparkSession), allowMissingColumns = true))),
    changed("skew", Map("events" -> hot("event_id", "user_id", 0L),
      "documents" -> hot("doc_id", "source", "src0"), "embeddings" -> hot("vec_id", "label", 0))),
    Shape("factor", (spark, base, dir) => BenchGen.replicate(spark, base, dir, factor)))

  /** The `SparkEntry` gates and `bench.<name>` for each bench-only entry. */
  def gates: Seq[(String, Gate)] = (SparkEntry.queries.toSeq ++
    Bench.benchOnly.toSeq.map { case (n, g) => s"bench.$n" -> g }).sortBy(_._1)

  /** `typed` for a deliberate, named failure (`IllegalArgumentException`,
    * `IllegalStateException`, `UnsupportedOperationException`,
    * `AnalysisException` or one of graft's own), else `crash` (NPE,
    * ClassCast, index and arithmetic errors, OOM, ...); a crash class
    * anywhere in the cause chain wins over a typed wrapper. */
  def classify(t: Throwable): String = {
    val causes = Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(32).toSeq
    val crash = causes.exists {
      case _: NullPointerException | _: ClassCastException | _: IndexOutOfBoundsException |
           _: ArithmeticException | _: NumberFormatException | _: NegativeArraySizeException |
           _: ArrayStoreException | _: java.util.NoSuchElementException | _: MatchError |
           _: VirtualMachineError | _: AssertionError => true
      case _ => false
    }
    val typed = causes.exists {
      case _: IllegalArgumentException | _: IllegalStateException |
           _: UnsupportedOperationException | _: AnalysisException => true
      case e => e.getClass.getName.startsWith("graft.")
    }
    if (!crash && typed) "typed" else "crash"
  }

  private val runs = new java.util.concurrent.atomic.AtomicLong

  /** One run of `gate` on `dir` into `noop`, on its own thread and job
    * group, cancelled after `cap` seconds: the frame and its time, or the
    * failed cell. */
  private def once(spark: SparkSession, gate: Gate, dir: String,
                   cap: Double): Either[Cell, (DataFrame, Double)] = {
    val group = s"graft-sweep-${runs.incrementAndGet()}"
    @volatile var result: Either[Throwable, DataFrame] = null
    val worker = new Thread(() => {
      spark.sparkContext.setJobGroup(group, group, interruptOnCancel = true)
      result = try {
        val df = gate(spark, dir)
        df.write.format("noop").mode("overwrite").save()
        Right(df)
      } catch { case e: Throwable => Left(e) }
    }, group)
    worker.setDaemon(true)
    val t0 = System.nanoTime()
    worker.start()
    worker.join((cap * 1000).toLong)
    val seconds = (System.nanoTime() - t0) / 1e9
    if (worker.isAlive) {
      spark.sparkContext.cancelJobGroup(group)
      worker.join(10000)
      // driver-side work ignores the cancel; the daemon is left behind
      if (worker.isAlive) worker.interrupt()
      Left(Cell("over_budget", seconds, Some(s"cancelled after ${cap.toInt} s")))
    } else result.left.map(e =>
      Cell(classify(e), seconds, Some(s"${e.getClass.getName}: ${e.getMessage}")))
      .map(_ -> seconds)
  }

  /** `samples` runs of one gate on one shape, stopping at the first
    * failure; `schema` is the base run's (None on base itself). */
  private def cell(spark: SparkSession, gate: Gate, dir: String, samples: Int, cap: Double,
                   schema: Option[String]): (Cell, Option[DataFrame]) = {
    val (oks, failed) = Iterator.continually(once(spark, gate, dir, cap).flatMap {
      case (df, s) if schema.forall(_ == df.schema.catalogString) => Right((df, s))
      case (df, s) => Left(Cell("crash", s, Some(s"schema differs from base: ${df.schema.catalogString}")))
    }).take(samples).span(_.isRight)
    val done = oks.collect { case Right(r) => r }.toSeq
    (failed.nextOption().flatMap(_.left.toOption)
      .getOrElse(Cell("ok", done.map(_._2).sorted.apply(done.length / 2))), done.lastOption.map(_._1))
  }

  /** Runs `gates` × `shapes` and writes `sweep.json` and the plans.
    * Returns gate → shape → cell. */
  def run(spark: SparkSession, sfDir: String, outDir: String, gates: Seq[(String, Gate)],
          shapes: Seq[Shape], samples: Int, cap: Double = capSeconds,
          header: Seq[(String, String)] = Nil): Seq[(String, Seq[(String, Cell)])] = {
    require(samples > 0, s"samples must be positive: $samples")
    val t0 = System.nanoTime()
    Files.createDirectories(Paths.get(outDir, "plans"))
    val dirs = shapes.map { s =>
      val dir = if (s.name == "base") sfDir else s"$outDir/fixtures/${s.name}"
      if (s.name != "base") {
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
        s.build(spark, sfDir, dir)
      }
      s.name -> dir
    }
    val done = Seq.newBuilder[(String, Seq[(String, Cell)])]
    for ((name, gate) <- gates) {
      var schema: Option[String] = None
      val row = dirs.map { case (shape, dir) =>
        val (c, df) = cell(spark, gate, dir, samples, cap, schema)
        if (shape == "base") df.foreach { d =>
          schema = Some(d.schema.catalogString)
          Files.write(Paths.get(outDir, "plans", s"$name.txt"), d.queryExecution
            .explainString(org.apache.spark.sql.execution.FormattedMode).getBytes(UTF_8))
        }
        println(f"[sweep] $name%-36s $shape%-9s ${c.outcome}%-11s ${c.seconds}%8.3f s")
        shape -> c
      }
      done += name -> row
      write(outDir, Seq("sf_dir" -> Verify.jsonString(sfDir), "samples" -> samples.toString,
        "cap_s" -> num(cap), "wall_s" -> num((System.nanoTime() - t0) / 1e9)) ++ header,
        done.result())
    }
    done.result()
  }

  /** The `docs_64x` time exceeds 12× the `docs_8x` time (`ok` on both, or
    * `docs_64x` over budget: its time is then a lower bound). */
  def superlinear(row: Seq[(String, Cell)]): Boolean =
    (row.toMap.get("docs_8x"), row.toMap.get("docs_64x")) match {
      case (Some(Cell("ok", t8, _)), Some(Cell("ok" | "over_budget", t64, _))) => t64 > 12 * t8
      case _ => false
    }

  private def num(v: Double) = "%.3f".formatLocal(java.util.Locale.ROOT, v)

  private def write(outDir: String, head: Seq[(String, String)],
                    rows: Seq[(String, Seq[(String, Cell)])]): Unit = {
    val q = Verify.jsonString _
    val counts = rows.flatMap(_._2.map(_._2.outcome)).groupBy(identity).toSeq.sortBy(_._1)
      .map { case (o, n) => s"${q(o)}: ${n.length}" }.mkString("{", ", ", "}")
    val gates = rows.map { case (name, row) =>
      val cells = row.map { case (shape, c) =>
        s"${q(shape)}: {${q("outcome")}: ${q(c.outcome)}, ${q("median_s")}: ${num(c.seconds)}" +
          c.error.map(e => s", ${q("error")}: ${q(e.take(300))}").getOrElse("") + "}"
      }
      s"    ${q(name)}: {${q("superlinear")}: ${superlinear(row)}, ${cells.mkString(", ")}}"
    }
    Files.write(Paths.get(outDir, "sweep.json"), ((head :+ ("outcomes" -> counts))
      .map { case (k, v) => s"  ${q(k)}: $v" } :+ s"  ${q("gates")}: {\n${gates.mkString(",\n")}\n  }")
      .mkString("{\n", ",\n", "\n}\n").getBytes(UTF_8))
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Sweep <sfDir> <outDir> [factor] [samples] [gate ...]")
    val Array(sfDir, outDir) = args.take(2)
    val nums = args.drop(2).takeWhile(_.forall(_.isDigit)).take(2).map(_.toInt)
    val factor = nums.headOption.getOrElse(10)
    val names = args.drop(2 + nums.length).toSet
    val unknown = names -- gates.map(_._1)
    require(unknown.isEmpty, s"unknown gates: ${unknown.mkString(", ")}")
    val spark = GraftSession.local("graft-sweep")
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, sfDir, outDir, gates.filter(g => names.isEmpty || names(g._1)),
      shapes(factor), nums.lift(1).getOrElse(3), header = Seq("factor" -> factor.toString))
    finally { Bench.cleanupWds(); spark.stop() }
    // gate-started loopback servers and abandoned over-budget runs must not pin the JVM
    sys.exit(0)
  }
}
