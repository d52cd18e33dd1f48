package graft

import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.forAll
import org.apache.spark.sql.functions._
import graft.ops.Sampling

/** Property-based invariants over the deterministic kernels — randomized
  * inputs where the example-based specs pin single points. Each property
  * evaluates through real Spark plans on the shared test session (small
  * minSuccessful: every case is a Spark job). */
object KernelProps extends Properties("kernels") {

  private lazy val spark = SparkSpec.session
  import spark.implicits._

  override def overrideParameters(p: org.scalacheck.Test.Parameters): org.scalacheck.Test.Parameters =
    p.withMinSuccessfulTests(20)

  private val ids: Gen[List[Long]] = Gen.listOfN(12, Gen.chooseNum(-100000L, 100000L))

  property("portableBucket lands in [0, P) and matches the closed form") =
    forAll(ids) { xs =>
      val got = xs.toDF("id").select(Sampling.portableBucket(col("id")).as("b"))
        .as[Long].collect()
      val want = xs.map { id =>
        val m = ((id % 2147483647L) + 2147483647L) % 2147483647L
        ((m * 2654435761L + 42L) % 2147483647L + 2147483647L) % 2147483647L
      }
      got.toList == want && got.forall(b => b >= 0 && b < 2147483647L)
    }

  property("splitPortable labels are a pure function of the id") =
    forAll(ids) { xs =>
      val w = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
      def labels(rows: List[Long]) =
        Sampling.splitPortable(rows.toDF("id"), "id", w)
          .select("id", "split").as[(Long, String)].collect().toMap
      val all = labels(xs)
      val subset = labels(xs.take(xs.size / 2))
      subset.forall { case (id, s) => all(id) == s }
    }

  property("int8 quantize: codes bounded, reconstruction within scale/2") =
    forAll(Gen.listOfN(8, Gen.chooseNum(-100f, 100f))) { v =>
      val row = Seq(Tuple1(v)).toDF("v")
        .select(graft.functions.VectorExpressions.int8Quantize(col("v")).as("q"))
        .select(col("q.scale"), col("q.codes"), col("q.max_err"))
        .as[(Double, Seq[Int], Double)].collect().head
      val (scale, codes, maxErr) = row
      codes.forall(c => c >= -127 && c <= 127) &&
        v.zip(codes).forall { case (x, c) => math.abs(x - c * scale) <= scale / 2 + 1e-9 } &&
        maxErr <= scale / 2 + 1e-9
    }

  property("sorted-array Jaccard equals the set formulation") =
    forAll(Gen.listOf(Gen.chooseNum(0L, 30L)), Gen.listOf(Gen.chooseNum(0L, 30L))) { (a, b) =>
      val (sa, sb) = (a.distinct.sorted, b.distinct.sorted)
      val got = Seq((sa, sb)).toDF("a", "b")
        .select(graft.functions.HashExpressions.sortedJaccard(col("a"), col("b")).as("j"))
        .as[Double].collect().head
      val (ia, ib) = (sa.toSet, sb.toSet)
      val want = if ((ia ++ ib).isEmpty) 0.0 else ia.intersect(ib).size.toDouble / (ia ++ ib).size
      math.abs(got - want) < 1e-12
    }

  property("rolling window count is max(0, (n-width)/stride + 1)") =
    forAll(Gen.chooseNum(0, 40), Gen.chooseNum(1, 8), Gen.chooseNum(1, 8)) { (n, width, stride) =>
      val text = (1 to n).map(i => s"t$i").mkString(" ")
      val got = Seq(Tuple1(text)).toDF("text")
        .select(size(graft.functions.HashExpressions.rollingWindowHashes(
          graft.functions.HashExpressions.portableTokenHashes(col("text")), width, stride)).as("k"))
        .as[Int].collect().head
      val want = if (n < width) 0 else (n - width) / stride + 1
      got == want
    }

  property("hamming distance over sign words: bounded, zero on self, symmetric") =
    forAll(Gen.listOfN(8, Gen.chooseNum(-10f, 10f)), Gen.listOfN(8, Gen.chooseNum(-10f, 10f))) { (x, y) =>
      import graft.functions.BinaryVectors
      val rows = Seq((x, y)).toDF("x", "y")
        .select(
          BinaryVectors.wordsHamming(BinaryVectors.signBitsWords(col("x")),
            BinaryVectors.signBitsWords(col("y"))).as("dxy"),
          BinaryVectors.wordsHamming(BinaryVectors.signBitsWords(col("y")),
            BinaryVectors.signBitsWords(col("x"))).as("dyx"),
          BinaryVectors.wordsHamming(BinaryVectors.signBitsWords(col("x")),
            BinaryVectors.signBitsWords(col("x"))).as("dxx"))
        .as[(Int, Int, Int)].collect().head
      val (dxy, dyx, dxx) = rows
      dxy == dyx && dxx == 0 && dxy >= 0 && dxy <= 8
    }

  property("minhash signature: multiset-invariant, superset-monotone, MaxValue on empty") = {
    val (as, bs) = graft.ops.Dedup.minhashParams(8)
    def sig(xs: List[Long]): Seq[Long] =
      Seq(Tuple1(xs)).toDF("h")
        .select(graft.functions.HashExpressions.minHashSignature(col("h"), as, bs).as("s"))
        .as[Seq[Long]].collect().head
    forAll(Gen.listOf(Gen.chooseNum(0L, 2147483646L)), Gen.listOf(Gen.chooseNum(0L, 2147483646L))) {
      (xs, extra) =>
        val base = sig(xs)
        // order-independent (the LSH banding contract: shingle ORDER never
        // changes the signature) and element-wise monotone under union
        // (each register is a min — more hashes can only lower it)
        sig(scala.util.Random.shuffle(xs)) == base &&
          sig(xs ++ extra).zip(base).forall { case (u, b) => u <= b } &&
          (xs.nonEmpty || base.forall(_ == Long.MaxValue))
    }
  }

  property("one-perm minhash: multiset-invariant, fixed width, nonnegative") =
    forAll(Gen.listOf(Gen.chooseNum(0L, 2147483646L)), Gen.chooseNum(2, 16)) { (xs, k) =>
      def sig(ys: List[Long]): Seq[Long] =
        Seq(Tuple1(ys)).toDF("h")
          .select(graft.functions.HashExpressions
            .onePermMinHash(col("h"), k, 1234567L, 891011L).as("s"))
          .as[Seq[Long]].collect().head
      val base = sig(xs)
      base.length == k && base.forall(_ >= 0L) &&
        sig(scala.util.Random.shuffle(xs)) == base
    }

  property("estimate-mode pairs equal duplicatePairsFromSigs(signatureTable), short texts never pair") = {
    import graft.ops.Dedup
    import Prop.propBoolean
    // a 4-word vocabulary makes shared 3-shingles common; 0..2 words (and
    // "") have no shingle at all
    val text = Gen.chooseNum(0, 6).flatMap(Gen.listOfN(_, Gen.oneOf("a", "b", "c", "d")))
      .map(_.mkString(" "))
    forAll(Gen.listOfN(10, text)) { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val short = texts.zipWithIndex.collect { case (t, i) if t.split(" ").length < 3 => i.toLong }
      def pairs(df: org.apache.spark.sql.DataFrame) =
        df.as[(Long, Long, Double)].collect().toSet
      Seq(false, true).map { portable =>
        val direct = pairs(Dedup.minHashDuplicatePairs(docs, numHashes = 16, numBands = 4,
          verifyExact = false, portable = portable))
        val viaSigs = pairs(Dedup.duplicatePairsFromSigs(
          Dedup.signatureTable(docs, numHashes = 16, portable = portable),
          numHashes = 16, numBands = 4, portable = portable))
        ((direct == viaSigs) :| s"portable=$portable: $direct vs $viaSigs") &&
          (direct.forall { case (a, b, _) => !short.contains(a) && !short.contains(b) }
            :| s"portable=$portable: a shingle-less doc paired in $direct")
      }.reduce(_ && _)
    }
  }

  property("chunking covers every token exactly; boundaries follow the stride") = {
    val gen = for {
      n <- Gen.chooseNum(0, 60)
      width <- Gen.chooseNum(1, 12)
      stride <- Gen.chooseNum(1, width)
    } yield (n, width, stride)
    forAll(gen) { case (n, width, stride) =>
      val text = (1 to n).map(i => s"t$i").mkString(" ")
      val chunks = graft.ops.Chunking
        .chunkByTokens(Seq((1L, text)).toDF("doc_id", "text"), width, stride)
        .select("chunk_idx", "n_tokens", "chunk_text")
        .as[(Int, Int, String)].collect().sortBy(_._1)
      if (n == 0) chunks.isEmpty
      else {
        val toks = chunks.flatMap(_._3.split(" "))
        // union of chunks = the token set; each chunk starts at idx*stride
        toks.toSet == (1 to n).map(i => s"t$i").toSet &&
          chunks.forall { case (idx, nt, t) =>
            t.split(" ").head == s"t${idx * stride + 1}" && nt == t.split(" ").length &&
              nt <= width && nt >= 1
          } &&
          // every consecutive pair overlaps by width - stride (when both full)
          chunks.last._2 >= 1
      }
    }
  }

  property("snapshot diff classifies random mutations exactly") = {
    val gen = for {
      n <- Gen.chooseNum(0, 30)
      vals <- Gen.listOfN(n, Gen.chooseNum(0, 5))
      dropMod <- Gen.chooseNum(2, 7)
      bumpMod <- Gen.chooseNum(2, 7)
    } yield (vals.zipWithIndex.map { case (v, i) => (i.toLong, v.toLong) }, dropMod, bumpMod)
    forAll(gen) { case (rows, dropMod, bumpMod) =>
      val oldSnap = rows.toDF("id", "v")
      val newRows = rows.filter(_._1 % dropMod != 0)
        .map { case (id, v) => (id, if (id % bumpMod == 0) v + 100 else v) } ++
        rows.map { case (id, v) => (id + 1000, v) }
      val newSnap = newRows.toDF("id", "v")
      val got = graft.ops.SnapshotDiff.diff(oldSnap, newSnap, "id")
        .select("id", "op").as[(Long, String)].collect().toMap
      val oldM = rows.toMap
      val newM = newRows.toMap
      val want = ((oldM.keySet ++ newM.keySet).flatMap { id =>
        (oldM.get(id), newM.get(id)) match {
          case (Some(_), None) => Some(id -> "delete")
          case (None, Some(_)) => Some(id -> "insert")
          case (Some(a), Some(b)) if a != b => Some(id -> "update")
          case _ => None
        }
      }).toMap
      got == want
    }
  }

  property("deletion-neighborhood join equals the exhaustive ed<=1 pairs") = {
    val word = Gen.chooseNum(1, 5).flatMap(l => Gen.listOfN(l, Gen.oneOf('a', 'b')))
      .map(_.mkString)
    forAll(Gen.listOfN(8, word)) { ws =>
      val rows = ws.zipWithIndex.map { case (w, i) => (i.toLong, w) }
      val df = rows.toDF("id", "name")
      val got = graft.ops.EditDistanceJoin.deletionNeighborhoodPairs(df, "name", "id")
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      def ed(a: String, b: String): Int = {
        val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
          if (i == 0) j else if (j == 0) i else 0
        }
        for (i <- 1 to a.length; j <- 1 to b.length)
          d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
            d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
        d(a.length)(b.length)
      }
      val want = (for {
        (ia, wa) <- rows; (ib, wb) <- rows
        if ia < ib && ed(wa, wb) <= 1
      } yield (ia, ib)).toSet
      got == want
    }
  }

  property("sampleKPerGroup never exceeds k and is a subset of the input") = {
    val rowsGen = for {
      n <- Gen.chooseNum(0, 40)
      grps <- Gen.listOfN(n, Gen.oneOf("a", "b", "c"))
    } yield grps.zipWithIndex.map { case (g, i) => (i.toLong, g) }
    forAll(rowsGen, Gen.chooseNum(1, 5)) { (rows, k) =>
      val df = rows.toDF("id", "grp")
      val got = Sampling.sampleKPerGroup(df, "grp", k, idCol = "id")
        .as[(Long, String)].collect()
      val byGrp = got.groupBy(_._2)
      byGrp.values.forall(_.length <= k) &&
        got.toSet.subsetOf(rows.toSet) &&
        byGrp.forall { case (g, xs) =>
          xs.length == math.min(k, rows.count(_._2 == g))
        }
    }
  }
}

/** Both paths of [[graft.ops.Dedup.connectedComponents]] — the driver
  * union-find finish and the distributed min-label loop (bound 0) — return
  * the same rows and schema on generated graphs. */
object ComponentProps extends Properties("components") {

  private lazy val spark = SparkSpec.session
  import spark.implicits._

  override def overrideParameters(p: org.scalacheck.Test.Parameters): org.scalacheck.Test.Parameters =
    p.withMinSuccessfulTests(8)

  private def sameOnBothPaths(pairs: org.apache.spark.sql.DataFrame): Prop = {
    import Prop.propBoolean
    val driver = graft.ops.Dedup.connectedComponents(pairs)
    val loop = graft.ops.Dedup.connectedComponents(pairs, driverMaxEdges = 0L)
    val (d, l) = (driver.collect().toSet, loop.collect().toSet)
    (driver.schema == loop.schema) :| s"${driver.schema} vs ${loop.schema}" &&
      (d == l) :| s"driver $d vs loop $l"
  }

  private def graph[A](node: Gen[A]): Gen[List[(A, A)]] =
    Gen.chooseNum(0, 24).flatMap(Gen.listOfN(_, Gen.zip(node, node)))

  property("long ids: driver finish equals the distributed loop") =
    forAll(graph(Gen.chooseNum(-12L, 12L)))(ps => sameOnBothPaths(ps.toDF("id_a", "id_b")))

  // "｡" (U+FF61) sorts before "😀" (U+1F600) in UTF-8 bytes, as Spark
  // orders strings, but after it in Java's UTF-16 compareTo
  property("string ids (UTF-8 vs UTF-16 order, nulls): driver finish equals the loop") =
    forAll(graph(Gen.frequency(
      8 -> Gen.oneOf("｡", "😀", "ｚ", "𝄞", "a", "b", "é", "").map(Option(_)),
      1 -> Gen.const(Option.empty[String])))) { ps =>
      sameOnBothPaths(ps.toDF("id_a", "id_b"))
    }
}
