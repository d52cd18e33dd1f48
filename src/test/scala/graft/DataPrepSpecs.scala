package graft

import org.apache.spark.sql.functions._
import graft.ops.{Chunking, EditDistanceJoin, SnapshotDiff}

/** Data preparation: batch CDC snapshot diff, exact edit-distance join,
  * RAG chunking, cohorts and mixing, resampling, transcripts, hashed
  * embeddings, heavy hitters, validation, drift and corpus prep. */

class SnapshotDiffSpec extends SparkSpec {
  import spark.implicits._

  private val oldSnap = Seq(
    (1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0), (4L, "d", 4.0),
    (5L, null.asInstanceOf[String], 5.0)).toDF("id", "s", "v")
  private val newSnap = Seq(
    (1L, "a", 1.0),                    // unchanged — must be absent
    (2L, "B", 2.0),                    // update: one column
    (3L, "cc", 30.0),                  // update: two columns
    (5L, "e", 5.0),                    // update: null -> value
    (6L, "f", 6.0)).toDF("id", "s", "v") // insert; 4 deleted

  test("three-way classification with per-column change counts") {
    val got = SnapshotDiff.diff(oldSnap, newSnap, "id")
      .as[(Long, String, String, Double, Int)].collect().map(r => r._1 -> r).toMap
    assert(got.keySet == Set(2L, 3L, 4L, 5L, 6L))
    assert(got(2L) == ((2L, "update", "B", 2.0, 1)))
    assert(got(3L) == ((3L, "update", "cc", 30.0, 2)))
    assert(got(4L) == ((4L, "delete", "d", 4.0, 0)))   // old-side values survive
    assert(got(5L) == ((5L, "update", "e", 5.0, 1)))   // null -> value IS a change
    assert(got(6L) == ((6L, "insert", "f", 6.0, 0)))
  }

  test("identical snapshots diff to empty; compareCols restricts the test") {
    assert(SnapshotDiff.diff(oldSnap, oldSnap, "id").isEmpty)
    // only v compared: the s-only update at id=2 disappears
    val ops = SnapshotDiff.diff(oldSnap, newSnap, "id", compareCols = Seq("v"))
      .select("id", "op").as[(Long, String)].collect().toMap
    assert(!ops.contains(2L) && ops(3L) == "update" && ops(4L) == "delete" && ops(6L) == "insert")
  }

  test("upserts and deleteIds partition the diff") {
    val up = SnapshotDiff.upserts(oldSnap, newSnap, "id").select("id")
      .as[Long].collect().toSet
    val del = SnapshotDiff.deleteIds(oldSnap, newSnap, "id").as[Long].collect().toSet
    assert(up == Set(2L, 3L, 5L, 6L) && del == Set(4L))
  }

  test("plan: single join, no more") {
    val joins = SnapshotDiff.diff(oldSnap, newSnap, "id")
      .queryExecution.optimizedPlan.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
      }
    assert(joins.length == 1 && joins.head.joinType.sql == "FULL OUTER")
  }

  test("a NULL-key old row classifies as delete, never re-shipped as insert") {
    // presence rides side MARKERS: id-nullity would see the unmatched
    // null-key old row as "came from the new side only" and upserts()
    // would write the stale row back to the sink
    val o = Seq((java.lang.Long.valueOf(1L), "a"),
      (null.asInstanceOf[java.lang.Long], "ghost")).toDF("id", "s")
    val n = Seq((java.lang.Long.valueOf(1L), "a")).toDF("id", "s")
    val got = SnapshotDiff.diff(o, n, "id")
      .select("op", "s").as[(String, String)].collect().toSeq
    assert(got == Seq(("delete", "ghost")), got.toString)
    assert(SnapshotDiff.upserts(o, n, "id").isEmpty,
      "stale null-key row re-shipped")
    // and a null-key NEW row is an insert, not a delete
    val got2 = SnapshotDiff.diff(n, o, "id")
      .select("op", "s").as[(String, String)].collect().toSeq
    assert(got2 == Seq(("insert", "ghost")), got2.toString)
  }
}

class EditDistanceJoinSpec extends SparkSpec {
  import spark.implicits._

  private val names = Seq(
    (1L, "martha"), (2L, "marhta"),   // transposition: ed 2
    (3L, "marta"),                    // deletion from martha: ed 1
    (4L, "smith"), (5L, "smyth"),     // substitution: ed 1
    (6L, "smithe"),                   // insertion: ed 1 from smith, 2 from smyth
    (7L, "jones")).toDF("id", "name")

  private def pairs(k: Int) =
    EditDistanceJoin.editDistancePairs(names, "name", "id", maxDistance = k)
      .as[(Long, Long, Int)].collect().toSet

  test("short strings with disjoint gram sets still pair (the prefix theorem's blind spot)") {
    // "a" vs "b": ed = 1 but the padded 3-gram sets share NOTHING — the
    // gram prefix join alone can never produce this candidate; the short
    // pool must
    val short = Seq((1L, "a"), (2L, "b"), (3L, "ab"), (4L, "xy"), (5L, "hello"))
      .toDF("id", "name")
    val got = EditDistanceJoin.editDistancePairs(short, "name", "id", maxDistance = 1)
      .as[(Long, Long, Int)].collect().toSet
    // exhaustive truth at k=1: a~b (sub), a~ab (ins), b~ab (ins)
    assert(got == Set((1L, 2L, 1), (1L, 3L, 1), (2L, 3L, 1)), got.toString)
    // the pool is capped with a named error, never a silent quadratic
    val big = (0L until EditDistanceJoin.MaxShortPool + 1)
      .map(i => (i, (i % 90 + 33).toChar.toString)).toDF("id", "name")
    val e = intercept[IllegalArgumentException] {
      EditDistanceJoin.editDistancePairs(big, "name", "id", maxDistance = 1).count()
    }
    assert(e.getMessage.contains("MaxShortPool"), e.getMessage)
  }

  test("matches the exhaustive cross join exactly (recall 1, k=1 and k=2)") {
    for (k <- Seq(1, 2)) {
      val a = names.select(col("id").as("id_a"), col("name").as("na"))
      val b = names.select(col("id").as("id_b"), col("name").as("nb"))
      val want = a.crossJoin(b).filter(col("id_a") < col("id_b"))
        .withColumn("dist", levenshtein(col("na"), col("nb")).cast("int"))
        .filter(col("dist") <= k)
        .select("id_a", "id_b", "dist").as[(Long, Long, Int)].collect().toSet
      assert(pairs(k) == want, s"k=$k")
    }
  }

  test("k=1 finds exactly the single-edit pairs") {
    // marhta -> marta is also one deletion away
    assert(pairs(1) == Set((1L, 3L, 1), (2L, 3L, 1), (4L, 5L, 1), (4L, 6L, 1)))
  }

  test("deletion-neighborhood join agrees with the gram join and the cross join") {
    val want = {
      val a = names.select(col("id").as("id_a"), col("name").as("na"))
      val b = names.select(col("id").as("id_b"), col("name").as("nb"))
      a.crossJoin(b).filter(col("id_a") < col("id_b"))
        .withColumn("dist", levenshtein(col("na"), col("nb")).cast("int"))
        .filter(col("dist") <= 1)
        .select("id_a", "id_b", "dist").as[(Long, Long, Int)].collect().toSet
    }
    val got = EditDistanceJoin.deletionNeighborhoodPairs(names, "name", "id")
      .as[(Long, Long, Int)].collect().toSet
    assert(got == want && got == pairs(1))
  }

  test("deletion join catches insert/delete pairs across lengths") {
    val df = Seq((1L, "abc"), (2L, "abcd"), (3L, "ab"), (4L, "xbc"), (5L, "a"))
      .toDF("id", "name")
    val got = EditDistanceJoin.deletionNeighborhoodPairs(df, "name", "id")
      .as[(Long, Long, Int)].collect().toSet
    assert(got == Set((1L, 2L, 1), (1L, 3L, 1), (1L, 4L, 1), (3L, 5L, 1)))
  }

  test("canonicalVariants maps each cluster to its lowest-id form; singletons absent") {
    val df = Seq((1L, "smith"), (2L, "smyth"), (3L, "smithe"), // one chain
      (4L, "jones"), (5L, "jones"),                           // exact dup pair
      (6L, "unrelated")).toDF("id", "name")
    val got = EditDistanceJoin.canonicalVariants(df, "name", "id")
      .as[(Long, String, Long, String)].collect()
      .map(r => r._1 -> (r._3, r._4)).toMap
    // smyth and smithe are both within 1 edit of smith -> one cluster,
    // canonical id 1 ("smith"); jones pair collapses to id 4
    assert(got == Map(
      1L -> ((1L, "smith")), 2L -> ((1L, "smith")), 3L -> ((1L, "smith")),
      4L -> ((4L, "jones")), 5L -> ((4L, "jones"))))
  }

  test("candidate pruning: no cross join in the plan") {
    val cross = EditDistanceJoin.editDistancePairs(names, "name", "id")
      .queryExecution.optimizedPlan.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join
          if j.condition.isEmpty => j
      }
    assert(cross.isEmpty)
  }
}

class ChunkingSpec extends SparkSpec {
  import spark.implicits._

  private def toks(n: Int) = (1 to n).map(i => s"t$i").mkString(" ")
  private val docs = Seq(
    (1L, toks(10)),   // n=10, w=4, s=2 -> starts 0,2,4,6 (4 chunks)
    (2L, toks(11)),   // -> starts 0,2,4,6,8 (5 chunks; last has 3 tokens)
    (3L, toks(3)),    // n < width -> 1 chunk of 3
    (4L, "   "),      // no tokens -> no chunks
    (5L, null.asInstanceOf[String])).toDF("doc_id", "text")

  test("window boundaries, counts, and tails") {
    val got = Chunking.chunkByTokens(docs, width = 4, stride = 2)
      .select("doc_id", "chunk_idx", "n_tokens", "chunk_text")
      .as[(Long, Int, Int, String)].collect()
    val byDoc = got.groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
    assert(byDoc.keySet == Set(1L, 2L, 3L))
    assert(byDoc(1L).length == 4 && byDoc(1L).forall(_._3 == 4))
    assert(byDoc(1L).head._4 == "t1 t2 t3 t4" && byDoc(1L).last._4 == "t7 t8 t9 t10")
    assert(byDoc(2L).length == 5 && byDoc(2L).last._3 == 3 && byDoc(2L).last._4 == "t9 t10 t11")
    assert(byDoc(3L).toList == List((3L, 0, 3, "t1 t2 t3")))
  }

  test("every token position is covered; consecutive chunks overlap by width-stride") {
    val got = Chunking.chunkByTokens(docs.filter(col("doc_id") === 2L), width = 4, stride = 2)
      .select("chunk_idx", "chunk_text").as[(Int, String)].collect().sortBy(_._1)
    val covered = got.flatMap(_._2.split(" ")).toSet
    assert(covered == (1 to 11).map(i => s"t$i").toSet)
    got.sliding(2).foreach { case Array(a, b) =>
      assert(a._2.split(" ").toSet.intersect(b._2.split(" ").toSet).size == 2)
    case _ => }
  }

  test("metadata columns ride along; no shuffle in the plan") {
    val withMeta = docs.withColumn("source", concat(lit("s"), col("doc_id")))
    val out = Chunking.chunkByTokens(withMeta, width = 4, stride = 4)
    assert(out.columns.contains("source") && !out.columns.contains("text"))
    val exchanges = out.queryExecution.executedPlan.toString
    assert(!exchanges.contains("Exchange"), exchanges)
  }

  test("re-chunking a frame that already carries chunk columns is a loud error") {
    // the op promises caller columns ride along — it must not silently
    // overwrite a pre-existing chunk_idx with its new window index
    val already = Chunking.chunkByTokens(docs, width = 4, stride = 4)
      .withColumn("text", col("chunk_text"))
    val e = intercept[IllegalArgumentException] {
      Chunking.chunkByTokens(already, width = 2, stride = 2)
    }
    assert(e.getMessage.contains("chunk_idx"), e.getMessage)
  }
}

class CohortSpec extends SparkSpec {
  import spark.implicits._

  private val w = graft.ops.Cohorts.MicrosPerWeek
  private def ts(week: Long) = new java.sql.Timestamp(week * w / 1000)
  // u1 joins week 0, active weeks 0,1,3; u2 joins week 0, active week 0
  // only; u3 joins week 1, active weeks 1,2
  private val events = Seq(
    (1L, ts(0)), (1L, ts(0)), (1L, ts(1)), (1L, ts(3)),
    (2L, ts(0)),
    (3L, ts(1)), (3L, ts(2))).toDF("user_id", "ts")

  test("cohort matrix: counts and rates") {
    val got = graft.ops.Cohorts.retention(events)
      .as[(Long, Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    assert(got == Map(
      (0L, 0L) -> ((2L, 1.0)), (0L, 1L) -> ((1L, 0.5)), (0L, 3L) -> ((1L, 0.5)),
      (1L, 0L) -> ((1L, 1.0)), (1L, 1L) -> ((1L, 1.0))))
  }

  test("repeat activity within one period counts once") {
    // u1 has two week-0 events but the (0,0) cell says 2 users, not 3 rows
    val cell = graft.ops.Cohorts.retention(events)
      .filter(col("cohort_period") === 0 && col("offset_periods") === 0)
      .select("n_active").as[Long].head()
    assert(cell == 2L)
  }
}

class TemperatureMixSpec extends SparkSpec {
  import spark.implicits._
  import graft.ops.Sampling

  private val df = ((1 to 900).map(i => (i.toLong, "head")) ++
    (1001 to 1100).map(i => (i.toLong, "tail"))).toDF("doc_id", "source")

  test("T=2 keeps the rarest source whole and downsamples the head to sqrt ratio") {
    val got = Sampling.temperatureMix(df, "source", 2.0, "doc_id")
      .select("doc_id", "source").as[(Long, String)].collect()
    val bySrc = got.groupBy(_._2).view.mapValues(_.length).toMap
    // tail binding: all 100 kept; head rate = sqrt(900)*sqrt(100)/900 = 1/3
    assert(bySrc("tail") == 100)
    assert(math.abs(bySrc("head") - 300.0) < 60, bySrc.toString) // hash-approximate
    // resulting shares ~ sqrt-flattened: 3:1 instead of 9:1
    val ratio = bySrc("head").toDouble / bySrc("tail")
    assert(ratio > 2.2 && ratio < 3.8, ratio.toString)
  }

  test("T=1 is the natural distribution (everything kept); determinism under repartition") {
    assert(Sampling.temperatureMix(df, "source", 1.0, "doc_id").count() == 1000)
    val a = Sampling.temperatureMix(df, "source", 2.0, "doc_id")
      .select("doc_id", "source").as[(Long, String)].collect().toSet
    val b = Sampling.temperatureMix(df.repartition(13), "source", 2.0, "doc_id")
      .select("doc_id", "source").as[(Long, String)].collect().toSet
    assert(a == b)
  }
}

class InterleaveSpec extends SparkSpec {
  import spark.implicits._

  test("balanced sources emit in cycles; order is deterministic") {
    val df = ((1 to 30).map(i => (i.toLong, "a")) ++
      (101 to 130).map(i => (i.toLong, "b")) ++
      (201 to 230).map(i => (i.toLong, "c"))).toDF("doc_id", "source")
    val out = graft.ops.Layout.interleaveBySource(df, "source", "doc_id", numPartitions = 1)
      .select("source", "interleave_rank").as[(String, Int)].collect()
    // within the single range partition, rows arrive sorted by (rank, src):
    // every consecutive window of 3 holds all three sources
    out.grouped(3).foreach(g => assert(g.map(_._1).toSet == Set("a", "b", "c"), g.toSeq))
    // max run of one source is 1 on balanced input
    out.sliding(2).foreach { case Array(x, y) => assert(x._1 != y._1) case _ => }
    val again = graft.ops.Layout.interleaveBySource(
      df.repartition(7), "source", "doc_id", numPartitions = 1)
      .select("source", "interleave_rank").as[(String, Int)].collect()
    assert(out.toSeq == again.toSeq)
  }
}

class ResampleSpec extends SparkSpec {
  import spark.implicits._

  test("grid, last-wins ties, gap fill, and observed flags") {
    def ts(us: Long) = new java.sql.Timestamp(us / 1000)
    val B = 100000L
    val ev = Seq(
      (1L, 7L, ts(10000), 1.0), (2L, 7L, ts(90000), 2.0), // bucket 0: last wins -> 2.0
      (3L, 7L, ts(350000), 5.0),                          // bucket 3; buckets 1,2 are gaps
      (4L, 9L, ts(250000), 9.0))                          // single-bucket key
      .toDF("event_id", "user_id", "ts", "value")
    val got = graft.ops.Resample.forwardFill(ev, bucketMicros = B)
      .as[(Long, Long, Double, Boolean)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    assert(got == Map(
      (7L, 0L) -> ((2.0, true)), (7L, 100000L) -> ((2.0, false)),
      (7L, 200000L) -> ((2.0, false)), (7L, 300000L) -> ((5.0, true)),
      (9L, 200000L) -> ((9.0, true))))
  }

  test("same-timestamp ties break on event id; no row before a key's first event") {
    def ts(us: Long) = new java.sql.Timestamp(us / 1000)
    val ev = Seq((1L, 7L, ts(50000), 1.0), (2L, 7L, ts(50000), 2.0))
      .toDF("event_id", "user_id", "ts", "value")
    val got = graft.ops.Resample.forwardFill(ev, bucketMicros = 100000L)
      .as[(Long, Long, Double, Boolean)].collect()
    assert(got.toSeq == Seq((7L, 0L, 2.0, true)))
  }

  test("a NULL value is a non-observation: it never erases a real same-bucket reading") {
    def ts(us: Long) = new java.sql.Timestamp(us / 1000)
    // bucket 0 holds a real 5.0 at t1 and a LATER null at t2: last-wins
    // used to crown the null, report observed=false, and carry nothing
    val ev = Seq(
      (1L, 7L, ts(10000), java.lang.Double.valueOf(5.0)),
      (2L, 7L, ts(90000), null.asInstanceOf[java.lang.Double]),
      (3L, 7L, ts(250000), java.lang.Double.valueOf(8.0)))
      .toDF("event_id", "user_id", "ts", "value")
    val got = graft.ops.Resample.forwardFill(ev, bucketMicros = 100000L)
      .as[(Long, Long, Double, Boolean)].collect()
      .map(r => r._2 -> ((r._3, r._4))).toMap
    assert(got == Map(
      0L -> ((5.0, true)),   // the real reading survives the later null
      100000L -> ((5.0, false)),
      200000L -> ((8.0, true))))
  }
}

class TranscriptSpec extends SparkSpec {
  import spark.implicits._

  test("transcripts are time-ordered within gap sessions, stable under repartition") {
    val base = 1700000000000000L
    def us(m: Long) = new java.sql.Timestamp((base + m * 60000000L) / 1000)
    val ev = Seq(
      (1L, 10L, us(0), "signup"), (2L, 10L, us(5), "click"), (3L, 10L, us(10), "purchase"),
      (4L, 10L, us(100), "view"),                       // new session (gap > 30m)
      (5L, 20L, us(2), "click"), (6L, 20L, us(1), "view")) // out-of-order input
      .toDF("event_id", "user_id", "ts", "event_type")
    def run(df: org.apache.spark.sql.DataFrame) =
      graft.ops.Sessionize.transcripts(df)
        .as[(Long, Long, Long, String)].collect()
        .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    val got = run(ev)
    assert(got((10L, 1L)) == ((3L, "signup -> click -> purchase")))
    assert(got((10L, 2L)) == ((1L, "view")))
    assert(got((20L, 1L)) == ((2L, "view -> click")))
    assert(run(ev.repartition(7)) == got)
  }
}

class HashedEmbeddingSpec extends SparkSpec {
  import spark.implicits._
  import graft.functions.TextFunctions

  test("fused kernel is bit-identical to the HOF reference formulation") {
    val docs = Tables(spark, sf(), "documents").limit(200)
    val mismatches = docs.select(
      TextFunctions.hashedTokenEmbedding(col("text"), 16).as("k"),
      TextFunctions.hashedTokenEmbeddingReference(col("text"), 16).as("r"))
      .filter(col("k") =!= col("r")).count()
    assert(mismatches == 0)
    // null text: both sides null
    val nulls = Seq((1L, null.asInstanceOf[String])).toDF("id", "text")
      .select(TextFunctions.hashedTokenEmbedding(col("text"), 8).as("k"))
      .filter(col("k").isNull).count()
    assert(nulls == 1)
  }

  test("unit norm, determinism, bucket-count semantics") {
    val df = Seq((1L, "a b c d"), (2L, "a a a a"), (3L, ""), (4L, "a b c d"))
      .toDF("id", "text")
    val out = df.select(col("id"),
      TextFunctions.hashedTokenEmbedding(col("text"), 8).as("v"))
      .as[(Long, Seq[Double])].collect().toMap
    // non-empty docs have unit L2 norm
    for (id <- Seq(1L, 2L, 4L))
      assert(math.abs(out(id).map(x => x * x).sum - 1.0) < 1e-12)
    // single repeated token -> one bucket holds everything
    assert(out(2L).count(_ != 0.0) == 1 && out(2L).max == 1.0)
    // empty text -> zero vector, not NaN
    assert(out(3L).forall(_ == 0.0))
    // pure function of text
    assert(out(1L) == out(4L))
  }
}

class SpaceSavingSpec extends SparkSpec {
  import spark.implicits._
  import graft.functions.SketchAggFunctions

  private def sketch(df: org.apache.spark.sql.DataFrame, k: Int) =
    df.agg(SketchAggFunctions.spaceSavingTopK(col("item"), k).as("hh"))
      .select(explode(col("hh")).as("r"))
      .select("r.item", "r.count", "r.err")
      .as[(String, Long, Long)].collect()

  test("exact when k >= distinct values, across many partitions") {
    val df = spark.range(10000).select((col("id") % 37).cast("string").as("item"))
      .repartition(16)
    val got = sketch(df, 64).map(r => r._1 -> r._2).toMap
    val want = df.groupBy("item").count().as[(String, Long)].collect().toMap
    assert(got == want)
    assert(sketch(df, 64).forall(_._3 == 0L))
  }

  test("under eviction: bounds hold and the heavy hitter survives") {
    // zipf-ish: item h appears 5000 times, 2000 singletons
    val df = (Seq.fill(5000)("h") ++ (1 to 2000).map(i => s"t$i"))
      .toDF("item").repartition(8)
    val n = 7000L
    val k = 50
    val got = sketch(df, k)
    assert(got.length == k)
    val truth = df.groupBy("item").count().as[(String, Long)].collect().toMap
    // per-item: count - err <= true <= count
    got.foreach { case (i, c, e) =>
      val t = truth.getOrElse(i, 0L)
      assert(c - e <= t && t <= c, s"$i c=$c e=$e true=$t")
    }
    // any item with true freq > n/k must be present; 'h' dominates
    assert(got.head._1 == "h" && got.head._2 - got.head._3 <= 5000 && got.head._2 >= 5000)
  }

  test("nulls are ignored; empty input yields an empty summary") {
    val df = Seq(Some("a"), None, Some("a")).toDF("item")
    val got = sketch(df, 4)
    assert(got.toSeq == Seq(("a", 2L, 0L)))
    assert(sketch(Seq.empty[String].toDF("item"), 4).isEmpty)
  }

  test("serde round-trip preserves the buffer") {
    val b = new graft.functions.SpaceSavingBuffer(3)
    Seq("a", "b", "a", "c", "d", "a").foreach(b.add)
    val r = graft.functions.SpaceSavingBuffer.fromBytes(3, b.toBytes)
    assert(r.sortedEntries == b.sortedEntries && r.overflowed == b.overflowed)
  }
}

class ValidatorSpec extends SparkSpec {
  import spark.implicits._
  import graft.core.Validator

  private val src = Seq(
    ("a", Seq(1.0f, 2.0f)), ("b", Seq(3.0f, 4.0f)),
    ("c", Seq(5.0f, 6.0f)), ("d", null.asInstanceOf[Seq[Float]]))
    .toDF("id", "vector")

  private def report(t: org.apache.spark.sql.DataFrame) =
    Validator.validate(src, t, "id", "vector")
      .as[(String, Long, Boolean)].collect().map(r => r._1 -> (r._2, r._3)).toMap

  test("clean copy passes every check") {
    val r = report(src)
    assert(r.values.forall(_._2), r.toString)
    assert(r("rows_source") == ((4L, true)) && r("rows_target") == ((4L, true)))
  }

  test("validating an EMPTY pair yields zero counts, never null sums") {
    // a pipeline that filters everything makes both sides empty; the agg's
    // sums over an empty join are NULL without na.fill — which used to NPE
    // the CLI's getLong after "migration complete" was already printed
    val empty = src.filter(col("id") === "nope")
    val r = Validator.validate(empty, empty, "id", "vector")
      .as[(String, Long, Boolean)].collect().map(x => x._1 -> (x._2, x._3)).toMap
    assert(r.values.forall(_._2), r.toString)
    assert(r("rows_source") == ((0L, true)) && r("vector_mismatches") == ((0L, true)))
  }

  test("each planted defect is caught by its check") {
    val t = src.filter(col("id") =!= "a")                       // a missing
      .unionByName(src.filter(col("id") === "b"))               // b duplicated
      .unionByName(Seq(("e", Seq(9.0f))).toDF("id", "vector"))  // e extra
      .withColumn("vector", when(col("id") === "c",
        array(lit(5.0f), lit(6.5f))).otherwise(col("vector")))  // c corrupted
    val r = report(t)
    assert(r("ids_missing_in_target") == ((1L, false)))
    assert(r("ids_extra_in_target") == ((1L, false)))
    assert(r("dup_ids_target") == ((1L, false)))
    assert(r("vector_mismatches") == ((1L, false)))
    assert(r("dup_ids_source") == ((0L, true)))
  }

  test("null vs present vector is a mismatch; dim change is a mismatch") {
    val t = src.withColumn("vector",
      when(col("id") === "d", array(lit(1.0f)))                 // null -> value
        .when(col("id") === "a", array(lit(1.0f), lit(2.0f), lit(0.0f))) // dim+1
        .otherwise(col("vector")))
    assert(report(t)("vector_mismatches") == ((2L, false)))
  }

  test("signature is portable-int math and order-sensitive") {
    val sig = src.select(Validator.vectorSignature(col("vector")).as("s"))
      .as[Long].collect()
    assert(sig.forall(s => s >= -1 && s < 2147483647L))
    val swapped = Seq(("a", Seq(2.0f, 1.0f))).toDF("id", "vector")
      .select(Validator.vectorSignature(col("vector"))).as[Long].head()
    val orig = Seq(("a", Seq(1.0f, 2.0f))).toDF("id", "vector")
      .select(Validator.vectorSignature(col("vector"))).as[Long].head()
    assert(swapped != orig)
  }
}

class DriftSpec extends SparkSpec {
  import spark.implicits._
  import graft.ops.Drift

  private val ref = (1 to 1000).map(_.toDouble).toDF("v")

  test("identical distributions -> PSI 0; masses sum to 1") {
    val rows = Drift.psi(ref, ref, "v", bins = 10)
      .as[(Int, Double, Double, Double)].collect()
    assert(rows.length == 10 && rows.forall(_._4 == 0.0))
    assert(math.abs(rows.map(_._2).sum - 1.0) < 1e-9)
    assert(rows.forall(r => r._2 == r._3))
  }

  test("a shift against a CONSTANT reference is visible, not PSI = 0") {
    // the old one-bin constant branch mapped every current value to the
    // same bin, so a 100x shift reported perfectly stable
    val constRef = Seq.fill(100)(5.0).toDF("v")
    val shifted = Seq.fill(100)(500.0).toDF("v")
    val psiUp = Drift.psi(constRef, shifted, "v", bins = 10)
      .agg(org.apache.spark.sql.functions.sum("psi_term")).head().getDouble(0)
    assert(psiUp > 0.25, s"100x shift reported stable: $psiUp")
    // downward shifts land in bin 0, upward in the last bin
    val psiDown = Drift.psi(constRef, Seq.fill(100)(0.01).toDF("v"), "v", bins = 10)
      .agg(org.apache.spark.sql.functions.sum("psi_term")).head().getDouble(0)
    assert(psiDown > 0.25, s"downward shift reported stable: $psiDown")
    // and a constant CURRENT equal to the constant reference stays 0
    val psiSame = Drift.psi(constRef, constRef, "v", bins = 10)
      .agg(org.apache.spark.sql.functions.sum("psi_term")).head().getDouble(0)
    assert(psiSame == 0.0)
  }

  test("shift shows up where it happened, and PSI grows with it") {
    val small = (1 to 1000).map(i => (i % 900 + 1).toDouble).toDF("v")
    val big = (1 to 1000).map(i => (i % 500 + 1).toDouble).toDF("v")
    def total(cur: org.apache.spark.sql.DataFrame) =
      Drift.psi(ref, cur, "v", bins = 10).agg(sum("psi_term")).as[Double].head()
    assert(total(small) > 0 && total(big) > total(small))
  }

  test("out-of-range current values land in edge bins") {
    val cur = Seq(-100.0, 5000.0).toDF("v")
    val rows = Drift.psi(ref, cur, "v", bins = 10)
      .as[(Int, Double, Double, Double)].collect().sortBy(_._1)
    assert(rows.head._3 == 0.5 && rows.last._3 == 0.5)
    assert(rows.drop(1).dropRight(1).forall(_._3 == 0.0))
  }

  test("constant reference column does not divide by zero") {
    val const = Seq(5.0, 5.0, 5.0).toDF("v")
    val rows = Drift.psi(const, const, "v", bins = 4)
      .as[(Int, Double, Double, Double)].collect()
    assert(rows.forall(r => !r._2.isNaN && !r._4.isNaN))
    // the constant sits in the MIDDLE bin (bins/2), leaving the edge bins
    // free to expose current values that deviate in either direction
    assert(rows.find(_._1 == 2).get._2 == 1.0)
  }
}

class PrepareCorpusSpec extends SparkSpec {
  import spark.implicits._
  import graft.model.Canonical

  test("quality gate, whitespace-insensitive dedup, chunking, passthrough") {
    val good = "the cat sat on the mat and it is a good day to read the book of tales"
    val df = Seq(
      ("good1", null.asInstanceOf[Seq[Float]], Map("text" -> good)),
      ("good2", null.asInstanceOf[Seq[Float]], Map("text" -> (good + "   "))),
      ("junk", null.asInstanceOf[Seq[Float]], Map("text" -> "#### !!!! ????")),
      ("novec", Seq(1.0f, 2.0f), Map.empty[String, String]))
      .toDF(Canonical.ID, Canonical.VECTOR, Canonical.METADATA)
    val out = new graft.examples.PrepareTrainingCorpus()(df)
      .as[(String, Seq[Float], Map[String, String])].collect()
    val ids = out.map(_._1).toSet
    // junk gone; whitespace twin collapsed to the lowest id; chunks present
    assert(!ids.exists(_.startsWith("junk")) && !ids.exists(_.startsWith("good2")))
    assert(ids.contains("good1#0"))
    // the no-text record passes through with its vector intact
    val nv = out.find(_._1 == "novec").get
    assert(nv._2 == Seq(1.0f, 2.0f))
    // surviving chunks carry provenance + a unit-norm vector
    val c = out.find(_._1 == "good1#0").get
    assert(c._3("parent_id") == "good1" && c._2.length == 64)
    assert(math.abs(c._2.map(x => x.toDouble * x).sum - 1.0) < 1e-5)
  }
}

class ChunkAndEmbedCliSpec extends SparkSpec {
  import graft.connectors.MemoryStore
  import graft.model.Canonical
  import java.nio.file.Files

  test("--transform graft.examples.ChunkAndEmbed chunks documents into the sink") {
    MemoryStore.drop("cli_chunks")
    val cfg = Files.createTempFile("graft", ".json")
    Files.writeString(cfg,
      s"""{"source": {"type": "parquet", "connection": {"path": "${sf()}"},
         |            "query": {"table_name": "documents", "id_column": "doc_id",
         |                      "metadata_columns": ["text", "source"], "limit": 20}},
         | "target": {"type": "memory", "connection": {},
         |            "load": {"collection": "cli_chunks", "recreate": true}}}""".stripMargin)
    assert(graft.cli.Main.run(Array(
      "--config", cfg.toString, "--transform", "graft.examples.ChunkAndEmbed")) == 0)
    val stored = MemoryStore.get("cli_chunks").get._1
    assert(stored.nonEmpty)
    val metas = stored.map(r => r.getAs[String](0) ->
      r.getAs[Map[String, String]](Canonical.METADATA))
    // chunk ids are parent#idx; provenance lands in metadata
    assert(metas.forall { case (id, m) =>
      id == s"${m("parent_id")}#${m("chunk_idx")}" && m.contains("text") })
    // every chunk got a unit-norm dim-64 vector
    stored.foreach { r =>
      val v = r.getAs[scala.collection.Seq[Float]](Canonical.VECTOR)
      assert(v.length == 64)
      assert(math.abs(v.map(x => x.toDouble * x).sum - 1.0) < 1e-5)
    }
    // multi-chunk docs exist at width 64 on this fixture
    assert(stored.length > 20)
  }
}
