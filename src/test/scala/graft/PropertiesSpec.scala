package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.ops._
import graft.dedup.Dedup

/** ScalaCheck-generated properties (SURVEY.md §5.3) + sketch-aggregator
  * equivalence with the composed-operator forms. Raw Gen sampling with
  * fixed seeds (scalatest-scalacheck bridge is not on the classpath). */
class PropertiesSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(42L + i)))

  test("native minhash_sig == composed min(hash) signatures (edge texts, n = 1..3)") {
    import graft.functions.MinHashSig.minhashSig
    def sigs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1).toList).toMap
    def native(df: org.apache.spark.sql.DataFrame, n: Int, k: Int) = sigs(
      df.select(col("doc_id"), minhashSig(col("text"), n, k).as("signature"))
        .filter(size(col("signature")) > 0))
    val edge = Seq(
      "alpha beta gamma delta", "double  space  between", " leading space",
      "trailing space ", "  both  ", "", " ", "   ", "\t", "tab\tinside a\ttoken",
      "Grüße aus München, schöne Straße", "北京 上海 广州 深圳 北京 上海",
      "a b a b a b a b", "x", "x y", "same same same same").zipWithIndex
      .map { case (t, i) => (i.toLong, t) }
    val docs = (edge :+ (edge.length.toLong, null: String)).toDF("doc_id", "text")
    for (n <- 1 to 3) {
      val want = sigs(Dedup.minhashSignatures(docs, n, 16))
      assert(native(docs, n, 16) == want, s"n = $n")
    }
    val sample = Tables.documents(spark, sf).limit(100)
    assert(native(sample, 3, 16) == sigs(Dedup.minhashSignatures(sample, 3, 16)),
      "kernel must replicate composed signatures bit-for-bit")
  }

  test("bandRows: a document with fewer than n tokens gets no band rows") {
    val docs = Seq((1L, "one two"), (2L, "one two three"), (3L, null: String))
      .toDF("doc_id", "text")
    val rows = Dedup.bandRows(docs, 3, 8, 4).select("doc_id", "band").collect()
    assert(rows.map(_.getLong(0)).distinct.toSeq == Seq(2L))
    assert(rows.map(_.getInt(1)).sorted.toSeq == (0 until 8))
  }

  test("one-pass SimHash aggregator == composed 64-sum simhash") {
    val docs = Tables.documents(spark, sf).limit(100)
    val a = Dedup.simhash(docs).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = Dedup.simhashOnePass(docs).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a == b)
  }

  test("property: two-phase running sum == sequential prefix sum on random data") {
    samples(Gen.listOfN(200, Gen.chooseNum(0L, 5000L)), 4).foreach { values =>
      // unique, non-contiguous, unordered ids
      val rows = values.zipWithIndex.map { case (v, i) => (i * 37L % 9973L, v) }
        .distinctBy(_._1)
      val df = rows.toDF("id", "v")
      val expected = rows.sortBy(_._1)
        .scanLeft((0L, 0L)) { case ((_, acc), (id, v)) => (id, acc + v) }.drop(1).toMap
      val got = Windows.globalRunningSum(df, "id", col("v"), "cum", nBuckets = 7)
        .select("id", "cum").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expected)
    }
  }

  test("property: native lsh_buckets == HOF fold on random float vectors") {
    val gen = Gen.listOfN(24, Gen.chooseNum(-5.0f, 5.0f))
    val vecs = samples(gen, 40).zipWithIndex.map { case (v, i) => (i.toLong, v) }
    val df = vecs.toDF("vec_id", "embedding")
      .withColumn("embedding", col("embedding").cast("array<float>"))
    val planes = 5; val tables = 2
    val hof = array((0 until tables).map { t =>
      (0 until planes).map { p =>
        val plane = t * planes + p
        val proj = aggregate(
          zip_with(col("embedding"), sequence(lit(0), size(col("embedding")) - 1),
            (x, i) => x.cast("double") *
              (xxhash64(lit(plane), i).cast("double") / lit(Long.MaxValue.toDouble))),
          lit(0.0), (acc, v) => acc + v)
        when(proj > 0, lit(1L << p)).otherwise(0L)
      }.reduce((a, b) => a.bitwiseOR(b))
    }: _*)
    val bad = df.withColumn("hof", hof)
      .withColumn("native",
        graft.functions.LshBuckets.lshBuckets(col("embedding"), planes, tables))
      .filter(col("hof") =!= col("native")).count()
    assert(bad == 0)
  }

  test("property: native cms_cells == composed pmod(xxhash64(token, r), width) per depth row") {
    import graft.text.CountMin
    val gen = Gen.chooseNum(1, 30).flatMap(n =>
      Gen.listOfN(n, Gen.alphaNumChar).map(_.mkString))
    val toks = (samples(gen, 60) ++ Seq("a", "µ-unicode-é", "x" * 31)).distinct
    val df = toks.toDF("token")
    val composed = array((0 until CountMin.Depth).map(r =>
      pmod(xxhash64(col("token"), lit(r)), lit(CountMin.Width))): _*)
    val bad = df.withColumn("composed", composed)
      .withColumn("native",
        graft.functions.CmsCells.cmsCells(col("token"), CountMin.Depth, CountMin.Width))
      .filter(col("composed") =!= col("native")).count()
    assert(bad == 0, "cms_cells must replicate the seed-chained xxhash64 bit-for-bit")
  }

  test("property: winnowing rolling gram hash == per-position refold on random docs") {
    import graft.dedup.Winnow
    val P = 2147483647L; val B = 1000003L
    val (k, w) = (3, 4)
    val gen = Gen.chooseNum(3, 40).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("aa", "bb", "cc", "dd", "ee", "zz")))
    val docs = samples(gen, 50).zipWithIndex
      .map { case (ts, i) => (i.toLong, ts.mkString(" ")) }
    val df = docs.toDF("doc_id", "text")
    // reference: token hashes from the SAME expression chain, then the
    // naive per-position refold + rightmost-minimal window selection
    val th = df.select(col("doc_id"),
        transform(split(col("text"), " "), t => pmod(xxhash64(t), lit(P))).as("th"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val want = th.toSeq.flatMap { case (id, h) =>
      val ng = h.length - k + 1
      if (ng < 1) Seq.empty
      else {
        val g = (0 until ng).map(i =>
          (0 until k).foldLeft(0L)((acc, j) => (acc * B + h(i + j)) % P))
        val wEff = math.min(w, ng)
        val sel = scala.collection.mutable.Set.empty[Int]
        (0 to ng - wEff).foreach { i =>
          val win = (i until i + wEff)
          val m = win.map(g).min
          sel += win.filter(j => g(j) == m).max // rightmost minimal
        }
        sel.toSeq.map(p => (id, p.toLong, g(p)))
      }
    }.toSet
    val got = Winnow.fingerprints(df, k, w).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == want, "rolling Rabin update must select identical fingerprints")
  }

  test("property: dedup is idempotent on generated keyed data") {
    samples(Gen.listOfN(60, Gen.chooseNum(0L, 15L)), 5).foreach { keys =>
      val df = keys.zipWithIndex.map { case (k, i) => (s"id$k", i) }.toDF("id", "v")
      val once = Clean.dedupById(df)
      assert(once.count() == keys.distinct.size)
      assert(Clean.dedupById(once).count() == once.count())
    }
  }

  test("property: union-then-rollup == sum of rollups") {
    val gen = Gen.listOfN(40, Gen.oneOf("a", "b", "c"))
    samples(Gen.zip(gen, gen), 5).foreach { case (l1, l2) =>
      val d1 = l1.toDF("k"); val d2 = l2.toDF("k")
      val merged = Rollups.countBy(d1.unionByName(d2), Seq("k"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val r1 = Rollups.countBy(d1, Seq("k")).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val r2 = Rollups.countBy(d2, Seq("k")).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val summed = (r1.keySet ++ r2.keySet)
        .map(k => k -> (r1.getOrElse(k, 0L) + r2.getOrElse(k, 0L))).toMap
      assert(merged == summed)
    }
  }

  test("property: DBSCAN local is permutation-invariant and minPts-monotone in noise") {
    val base = (0 until 15).map(i => (i.toLong, (i % 4) * 0.05, (i / 4) * 0.05)) ++
      Seq((100L, 10.0, 10.0))
    def parts(m: Map[Long, Long]) =
      m.filter(_._2 >= 0).groupBy(_._2).values.map(_.keySet).toSet
    val l1 = graft.cluster.DBSCAN.local(base, 0.12, 3)
    val rnd = new scala.util.Random(42)
    (0 until 3).foreach { _ =>
      val shuffled = rnd.shuffle(base.toList)
      assert(parts(graft.cluster.DBSCAN.local(shuffled, 0.12, 3)) == parts(l1))
    }
    val noiseAt = (2 to 6).map(mp =>
      graft.cluster.DBSCAN.local(base, 0.12, mp).count(_._2 == -1L))
    assert(noiseAt == noiseAt.sorted, s"noise not monotone in minPts: $noiseAt")
  }

  test("property: centroid of a single-vertex LineString equals that point") {
    samples(Gen.zip(Gen.chooseNum(-179.0, 179.0), Gen.chooseNum(-89.0, 89.0)), 10)
      .foreach { case (lon, lat) =>
        val df = Seq((s"""[[$lon, $lat]]""", "LineString")).toDF("coords", "t")
        val p = df.select(Geo.lonLat(col("t"), col("coords")).as("p")).first().getStruct(0)
        assert(math.abs(p.getDouble(0) - lon) < 1e-9 && math.abs(p.getDouble(1) - lat) < 1e-9)
      }
  }

  test("property: containment >= jaccard on every co-shingled pair") {
    // c(a→b) = |∩|/|A| >= |∩|/|∪| = J always; random word-soup docs
    val words = Gen.oneOf("w1", "w2", "w3", "w4", "w5", "w6", "w7", "w8")
    val docGen = Gen.listOfN(8, words).map(_.mkString(" "))
    val texts = samples(docGen, 12).distinct
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t, "en", "s") }
      .toDF("doc_id", "text", "lang", "source")
    val j = Dedup.ngramJaccard(df, 3, 0.0).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(5)).toMap
    val c = Dedup.ngramContainment(df, 3, 0.0).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(4)).toMap
    j.foreach { case ((a, b), jac) =>
      assert(c((a, b)) >= jac - 1e-6 && c((b, a)) >= jac - 1e-6,
        s"containment must dominate jaccard for ($a,$b)")
    }
  }

  test("property: token entropy bounded by log2(n_tokens), zero iff constant") {
    val words = Gen.oneOf("a", "b", "c", "d")
    val docGen = Gen.listOfN(16, words).map(_.mkString(" "))
    val texts = samples(docGen, 10)
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t, "en", "s") }
      .toDF("doc_id", "text", "lang", "source")
    val ent = graft.text.TextOps.tokenEntropy(df).collect()
    ent.foreach { r =>
      val (n, h) = (r.getLong(1), r.getDouble(2))
      assert(h >= -1e-9 && h <= math.log(n.toDouble) / math.log(2.0) + 1e-6,
        s"entropy $h out of [0, log2($n)]")
    }
    val constant = texts.zipWithIndex.filter(_._1.split(" ").distinct.length == 1)
    constant.foreach { case (_, i) =>
      assert(ent.find(_.getLong(0) == i.toLong).get.getDouble(2) == 0.0)
    }
  }

  test("property: bloomPositions stay in [0,4096), are h-deterministic, step is odd") {
    samples(Gen.chooseNum(Long.MinValue, Long.MaxValue), 500).foreach { h =>
      val ps = graft.functions.Sketches.bloomPositions(h)
      assert(ps.length == 3 && ps.forall(p => p >= 0 && p < 4096), s"h=$h ps=${ps.toSeq}")
      assert(ps.toSeq == graft.functions.Sketches.bloomPositions(h).toSeq)
      // double-hash step law: p1 - p0 == p2 - p1 (mod 4096), and the step is odd
      val step = ((ps(1) - ps(0)) % 4096 + 4096) % 4096
      assert(((ps(2) - ps(1)) % 4096 + 4096) % 4096 == step, s"h=$h")
      val lo = h & 0xFFFFFFFFL
      assert((lo + 1L - lo % 2L) % 2L == 1L)
    }
  }

  test("property: HLL est_milli equals the BigInt floor formula on random register sums") {
    // s_sum ranges over [2^57, 256·2^57] (at least one register present)
    val gen = Gen.chooseNum(1L, 255L).flatMap(k =>
      Gen.listOfN(k.toInt, Gen.chooseNum(1L, 57L)).map { ms =>
        ms.map(m => BigInt(1) << (57 - m.toInt)).sum +
          BigInt(256 - ms.length) * (BigInt(1) << 57)
      })
    val num = BigInt(graft.text.HyperLogLog.EstMilliNum)
    samples(gen, 100).foreach { sSum =>
      val want = (num / (BigInt(1285395) * sSum)).toLong
      val got = spark.sql(
        s"SELECT CAST(CAST('${graft.text.HyperLogLog.EstMilliNum}' AS DECIMAL(38,0)) div " +
        s"(CAST(1285395 AS DECIMAL(38,0)) * CAST('$sSum' AS DECIMAL(38,0))) AS BIGINT) AS e")
        .first().getLong(0)
      assert(got == want, s"s_sum=$sSum")
    }
  }

  test("property: AVI roundtrip inverts synthesis on random (seed, frames, dims)") {
    val gen = for {
      seed <- Gen.chooseNum(0L, 1000000L)
      nf <- Gen.chooseNum(1, 6)
      w <- Gen.chooseNum(1, 24)
      h <- Gen.chooseNum(1, 24)
    } yield (seed, nf, w, h)
    samples(gen, 40).foreach { case (seed, nf, w, h) =>
      val avi = graft.multimodal.Multimodal.VideoCodec.synthesizeAvi(seed, nf, w, h)
      val (hdrN, frames) = graft.multimodal.Multimodal.VideoCodec.decode(avi).get
      assert(hdrN == nf.toLong && frames.length == nf, s"($seed,$nf,$w,$h)")
      frames.foreach { case (fw, fh, counts) =>
        assert(fw == w && fh == h)
        // every pixel in exactly one bin
        assert(counts.sum == w.toLong * h, s"($seed,$nf,$w,$h)")
      }
    }
  }

  test("property: AVI parser never throws on corrupted payloads") {
    val base = graft.multimodal.Multimodal.VideoCodec.synthesizeAvi(3L, 3, 10, 8)
    // corrupt a random byte (including the size fields that drive the
    // chunk walk) and truncate at random points: decode must return
    // None or partial frames, never escape an exception
    val gen = for {
      pos <- Gen.chooseNum(0, base.length - 1)
      b <- Gen.chooseNum(0, 255)
      cut <- Gen.chooseNum(0, base.length)
    } yield (pos, b.toByte, cut)
    samples(gen, 200).foreach { case (pos, b, cut) =>
      val mutated = base.clone(); mutated(pos) = b
      graft.multimodal.Multimodal.VideoCodec.decode(mutated)       // must not throw
      graft.multimodal.Multimodal.VideoCodec.decode(mutated.take(cut))
    }
  }

  test("HLL est_milli clamps to Long.MaxValue exactly below the BIGINT-fit threshold") {
    // EstFitsMin is the smallest S whose quotient fits BIGINT — the
    // clamp must flip between adjacent integers, and the un-clamped
    // side must equal the BigInt floor formula
    val fit = graft.text.HyperLogLog.EstFitsMin
    val num = BigInt(graft.text.HyperLogLog.EstMilliNum)
    assert(num / (BigInt(1285395) * fit) <= BigInt(Long.MaxValue))
    assert(num / (BigInt(1285395) * (fit - 1)) > BigInt(Long.MaxValue))
    val rows = Seq(fit - 1, fit, 1L << 57).toDF("raw")
      .withColumn("s_sum", expr("CAST(raw AS DECIMAL(38,0))"))
      .withColumn("e", graft.text.HyperLogLog.estMilli("s_sum"))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(rows(fit - 1) == Long.MaxValue)
    assert(rows(fit) == (num / (BigInt(1285395) * fit)).toLong)
    assert(rows(1L << 57) == (num / (BigInt(1285395) * (BigInt(1) << 57))).toLong)
  }

  test("property: quantile sketch estimate brackets the exact statistic on random data") {
    samples(Gen.listOfN(300, Gen.chooseNum(0L, 2000L)), 3).foreach { vals =>
      val df = vals.zipWithIndex.map { case (v, i) => (s"g${i % 2}", v) }.toDF("grp", "v")
      val rows = graft.quality.QuantileSketch.quantiles(
        df, col("grp"), col("v"), 32L, 64, Seq(500, 900)).collect()
      rows.foreach { r =>
        val (est, exact) = (r.getLong(2), r.getLong(3))
        assert(est >= exact && est - exact < 32L, s"$r")
      }
    }
  }

  test("property: pivot cell sums equal unpivoted totals on random orders") {
    val statuses = Gen.oneOf("F", "O", "P")
    val rows = samples(Gen.zip(statuses, Gen.chooseNum(1, 5),
      Gen.chooseNum(100.0, 9999.0)), 60)
      .zipWithIndex.map { case ((st, pr, tp), i) =>
        (i.toLong, st, s"$pr-PRIO", math.rint(tp * 100) / 100, "1995-01-01 00:00:00") }
    val df = rows.toDF("o_orderkey", "o_orderstatus", "o_orderpriority",
        "o_totalprice", "o_orderdate")
      .withColumn("o_orderdate", col("o_orderdate").cast("timestamp"))
    val p = Rollups.priorityStatusPivot(df)
    val cellSum = p.select((coalesce(col("sum_f"), lit(0.0)) +
        coalesce(col("sum_o"), lit(0.0)) + coalesce(col("sum_p"), lit(0.0))).as("t"))
      .agg(round(sum("t"), 2)).first().getDouble(0)
    val total = df.agg(round(Num.sumMoney(col("o_totalprice")), 2)).first().getDouble(0)
    assert(cellSum == total)
  }

  test("property: planSampleMod picks the minimal power of two inside the envelope") {
    val gen = for {
      d <- Gen.chooseNum(1L, 4096L)
      n0 <- Gen.chooseNum(1L, 10000000000L)
      n1 <- Gen.chooseNum(1L, 10000000000L)
    } yield (d, n0, n1)
    samples(gen, 200).foreach { case (d, n0, n1) =>
      val k = graft.quality.Eval.planSampleMod(d, n0, n1)
      val cap = BigInt(Long.MaxValue) / 65025 / d
      assert(k >= 1L && (k & (k - 1)) == 0L, s"k=$k not a power of two")
      assert((BigInt(n0) / k) * (BigInt(n1) / k) * 4 <= cap,
        s"envelope violated at k=$k for (d=$d, n0=$n0, n1=$n1)")
      if (k > 1L)
        assert((BigInt(n0) / (k / 2)) * (BigInt(n1) / (k / 2)) * 4 > cap,
          s"k=$k not minimal for (d=$d, n0=$n0, n1=$n1)")
    }
  }

  test("property: spearman double fallback == exact BIGINT path on random corpora") {
    // random small documents: mixed stopword densities and lengths,
    // ties likely (token pool is tiny) — the tie-heavy corner is where
    // the rank arithmetic could drift
    val word = Gen.oneOf("the", "a", "of", "zz", "qq", "ww", "ee")
    val doc = Gen.chooseNum(1, 12).flatMap(n => Gen.listOfN(n, word))
    samples(Gen.listOfN(40, doc), 3).foreach { corpus =>
      val docs = corpus.zipWithIndex
        .map { case (ws, i) => (i.toLong, ws.mkString(" ")) }
        .toDF("doc_id", "text")
      val base = graft.quality.RankCorr.scoredBase(docs)
      val e = graft.quality.RankCorr.spearmanExact(base).collect().head
      val d = graft.quality.RankCorr.spearmanDouble(base).collect().head
      assert(d.getAs[Long]("n") == e.getAs[Long]("n"))
      assert(d.getAs[Double]("sxy") == e.getAs[Long]("sxy").toDouble)
      assert(d.getAs[Double]("varx") == e.getAs[Long]("varx").toDouble)
      assert(d.getAs[Double]("vary") == e.getAs[Long]("vary").toDouble)
      assert(d.getAs[Long]("rho_sign") == e.getAs[Long]("rho_sign"))
    }
  }

  test("property: TV double fallback == exact BIGINT path on random token tables") {
    val word = Gen.oneOf("aa", "bb", "cc", "dd", "ee", "ff")
    val row = for { d <- Gen.chooseNum(0L, 9L); w <- word } yield (d, w)
    samples(Gen.listOfN(120, row), 3).foreach { rows =>
      val toks = rows.toDF("doc_id", "token")
      val kept = (0L to 4L).toDF("doc_id") // fixed half split
      val e = graft.text.Curation.tvFromTokens(toks, kept, exact = true)
        .collect().head
      val d = graft.text.Curation.tvFromTokens(toks, kept, exact = false)
        .collect().head
      assert(d.getAs[Long]("n_all_tok") == e.getAs[Long]("n_all_tok"))
      assert(d.getAs[Long]("n_sel_tok") == e.getAs[Long]("n_sel_tok"))
      assert(d.getAs[Long]("vocab") == e.getAs[Long]("vocab"))
      assert(d.getAs[Double]("tv_num") == e.getAs[Long]("tv_num").toDouble)
    }
  }
}
