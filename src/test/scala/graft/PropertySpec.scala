package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.ops.{Cleaning, Depths, Ranges, Windows}

/** Property-based invariants (SURVEY §5.3): dedup idempotence, clamp
  * containment, interpolation boundedness, X1 recurrence invariants.
  * scalacheck Gen driven directly with fixed seeds (scalatestplus is
  * not in the offline cache) — deterministic across runs. */
class PropertySpec extends SparkSpec {

  import spark.implicits._

  /** n deterministic samples of g. */
  private def forAll[T](g: Gen[T], n: Int = 10)(body: T => Unit): Unit = {
    val params = Gen.Parameters.default
    (0 until n).foreach { i =>
      g.apply(params, Seed(42L + i)).foreach(body)
    }
  }

  private val seriesGen: Gen[List[Option[Double]]] =
    Gen.listOfN(30, Gen.option(Gen.choose(-10.0, 10.0)))

  private def toDf(xs: List[Option[Double]]) =
    xs.zipWithIndex.map { case (v, i) =>
      (new java.sql.Timestamp(1620000000000L + i * 60000L), v)
    }.toDF("ts", "v")

  test("dedup keep-first is idempotent and key-unique") {
    forAll(Gen.listOfN(40, Gen.zip(Gen.choose(0L, 9L), Gen.choose(0, 100)))) {
      rows =>
        if (rows.nonEmpty) {
          val df = rows.zipWithIndex
            .map { case ((k, v), ord) => (k, v, ord) }
            .toDF("k", "v", "ord")
          val once = Cleaning.dedupKeepFirst(df, Seq("k"), Seq(col("ord")))
          val twice = Cleaning.dedupKeepFirst(once, Seq("k"), Seq(col("ord")))
          assert(once.count() === df.select("k").distinct().count())
          assert(once.exceptAll(twice).count() === 0)
          // keep-first: surviving ord per key is the minimum
          val bad = once.as("o").join(df.as("d"), "k")
            .where($"d.ord" < $"o.ord").count()
          assert(bad === 0)
        }
    }
  }

  test("clamp output is within range or null, never alters in-range values") {
    forAll(seriesGen) { xs =>
      val out = toDf(xs).select($"v",
        Ranges.clampToNull($"v", -5.0, 5.0).as("c")).collect()
      out.foreach { r =>
        val v = if (r.isNullAt(0)) None else Some(r.getDouble(0))
        val c = if (r.isNullAt(1)) None else Some(r.getDouble(1))
        v match {
          case Some(x) if x >= -5.0 && x <= 5.0 => assert(c === Some(x))
          case _ => assert(c === None)
        }
      }
    }
  }

  test("interpolation is bounded by neighboring observed values") {
    forAll(seriesGen) { xs =>
      if (xs.exists(_.isDefined)) {
        val out = Windows.interpolateLinear(toDf(xs), "v", "ts", Nil)
          .orderBy("ts").collect()
          .map(r => if (r.isNullAt(1)) None else Some(r.getDouble(1)))
        val obs = xs.flatten
        val (lo, hi) = (obs.min, obs.max)
        out.flatten.foreach { v =>
          assert(v >= lo - 1e-9 && v <= hi + 1e-9)
        }
      }
    }
  }

  test("X1 depth is never positive and offset ratchet is consistent") {
    forAll(Gen.listOfN(25, Gen.choose(-3.0, 1.0))) { udg =>
      if (udg.nonEmpty) {
        val df = udg.zipWithIndex.map { case (u, i) =>
          (new java.sql.Timestamp(1620000000000L + i * 60000L), u)
        }.toDF("ts", "udg")
        val out = Depths.tdrDepth(df, "ts", "udg", Seq(
          Depths.Install("s",
            new java.sql.Timestamp(1620000000000L), -1.0)))
          .orderBy("ts").collect().map(_.getDouble(2))
        assert(out.forall(_ <= 0.0))
        assert(out.head === -1.0) // anchored at install depth
      }
    }
  }

  test("approx sketches stay within ε of exact (a1's engine contract)") {
    // the a1 oracle is rows-only (estimates are engine-specific); this
    // bounds the estimates against exact answers instead
    val df = (0 until 20000).map { i =>
      (s"g${i % 3}", (i * 2654435761L % 1789L).toDouble, i % 1000)
    }.toDF("g", "v", "u")
    val got = df.groupBy("g").agg(
      hll_sketch_estimate(hll_sketch_agg(col("u"))).as("hll"),
      approx_count_distinct(col("u")).as("hllpp"),
      percentile_approx(col("v"), lit(0.5), lit(1000)).as("p50a"),
      countDistinct(col("u")).as("exact_u"),
      percentile(col("v"), lit(0.5)).as("p50"))
    got.collect().foreach { r =>
      val exactU = r.getAs[Long]("exact_u").toDouble
      // HLL datasketches default ≈1.6% rsd; HLL++ default 5% rsd
      assert(math.abs(r.getAs[Long]("hll") - exactU) / exactU < 0.05,
        s"hll_sketch off: $r")
      assert(math.abs(r.getAs[Long]("hllpp") - exactU) / exactU < 0.15,
        s"approx_count_distinct off: $r")
      // percentile_approx accuracy 1000 → rank error ≤ 1/1000 of rows;
      // bound in VALUE space via the (near-uniform) spread of v
      assert(math.abs(r.getAs[Double]("p50a") - r.getAs[Double]("p50"))
        <= 1789.0 * 0.01, s"p50 off: $r")
    }
  }

  test("a1_approx_sketches itself stays within ε of exact on testdata") {
    // closes the one rows-only oracle gap: run the REAL a1 query on
    // real events data and gate every estimate against the exact
    // answer computed on the same rows
    val dir = "/root/testdata/sf0.001"
    val a1 = SparkEntry.queries("a1_approx_sketches")(spark, dir)
      .collect().map(r => r.getString(0) -> r).toMap
    val exact = SparkEntry.queries("a1_approx_sketches")(spark, dir)
      .sparkSession.read.parquet(s"$dir/events.parquet")
      .groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("u"),
        percentile(col("value"), lit(0.5)).as("p50"),
        expr("max(value) - min(value)").as("spread"),
        count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r).toMap
    assert(a1.keySet === exact.keySet && a1.nonEmpty)
    exact.foreach { case (g, e) =>
      val u = e.getAs[Long]("u").toDouble
      val r = a1(g)
      assert(math.abs(r.getAs[Long]("approx_users") - u) / u < 0.05,
        s"$g hll_sketch off: ${r.getAs[Long]("approx_users")} vs $u")
      assert(
        math.abs(r.getAs[Long]("approx_users_hllpp") - u) / u < 0.15,
        s"$g hllpp off: ${r.getAs[Long]("approx_users_hllpp")} vs $u")
      assert(r.getAs[Long]("n") === e.getAs[Long]("n"))
      // rank error ≤ n/1000 → value error ≤ spread/100 for the
      // near-uniform synthetic value column
      assert(math.abs(r.getAs[Double]("p50_approx") -
          e.getAs[Double]("p50")) <= e.getAs[Double]("spread") * 0.01,
        s"$g p50 off")
    }
  }

  test("t61 KL drift is non-negative, and zero on identical snapshots") {
    // Gibbs' inequality: KL(p‖q) ≥ 0 with equality iff p = q — the
    // smoothed estimator must respect both on the real query
    val dir = "/root/testdata/sf0.001"
    val kl = SparkEntry.queries("t61_snapshot_kl")(spark, dir)
      .collect().map(r => r.getAs[String]("source") ->
        r.getAs[Double]("kl_new_old")).toMap
    assert(kl.nonEmpty)
    // round(…,6) can brush an analytic 0 to -0.0; tolerate the ulp,
    // nothing more
    assert(kl.values.forall(_ >= -1e-6), s"negative KL: $kl")
    // identical snapshots (old ≡ new counts): exactly zero, even in
    // floating point — identical doubles give ratio exactly 1.0 and
    // ln(1.0) exactly 0.0, so the estimator's identity case is exact
    import spark.implicits._
    val docs = Seq((1L, "s", "a b c"), (2L, "s", "b c d a"))
      .toDF("doc_id", "source", "text")
    val f = docs.select(col("source"),
        explode(graft.ops.TextOps.tokensLower(col("text"))).as("term"))
      .where(length(col("term")) > 0)
    val both = f.groupBy("source", "term")
      .agg(count(lit(1)).as("__no"))
      .withColumn("__nn", col("__no"))
    val scal = both.groupBy("source").agg(
      sum("__no").cast("double").as("__to"),
      sum("__nn").cast("double").as("__tn"),
      count(lit(1)).cast("double").as("__v"))
    val pn = (col("__nn").cast("double") + 1.0) /
      (col("__tn") + col("__v"))
    val po = (col("__no").cast("double") + 1.0) /
      (col("__to") + col("__v"))
    val selfKl = both.join(scal, Seq("source"))
      .groupBy("source").agg(sum(pn * log(pn / po)).as("kl"))
      .head().getAs[Double]("kl")
    assert(selfKl === 0.0)
  }

  test("mergeSpans equals brute-force interval union on random hit sets") {
    val hitsGen = Gen.zip(
      Gen.choose(2, 9), // window width n
      Gen.listOfN(25, Gen.zip(Gen.choose(1L, 3L), Gen.choose(1L, 60L))))
    forAll(hitsGen) { case (n, raw) =>
      val hits = raw.distinct
      if (hits.nonEmpty) {
        val got = graft.ops.Spans
          .mergeSpans(hits.toDF("doc_id", "pos"), "doc_id", "pos", n)
          .collect()
          .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3))))
          .groupBy(_._1).view.mapValues(_.map(_._2).sortBy(_._1).toList)
          .toMap
        // brute force: mark covered tokens, read off maximal runs
        val want = hits.groupBy(_._1).view.mapValues { ps =>
          val positions = ps.map(_._2).sorted
          val covered = positions.flatMap(p => p until p + n).toSet
          // maximal runs of covered positions
          val runs = scala.collection.mutable.ListBuffer.empty[(Long, Long, Long)]
          var s = -1L; var prev = -2L
          (covered.toList.sorted :+ Long.MinValue).foreach { c =>
            if (s < 0) { s = c; prev = c }
            else if (c == prev + 1) prev = c
            else {
              runs += ((s, prev, positions.count(p => p >= s && p + n - 1 <= prev).toLong))
              s = c; prev = c
            }
          }
          runs.toList.filter(_._1 != Long.MinValue)
        }.toMap
        got.foreach { case (doc, spans) =>
          val w = want(doc)
          assert(spans.map(x => (x._1, x._2)) === w.map(x => (x._1, x._2)),
            s"doc $doc spans: got $spans want $w (n=$n hits=$hits)")
          assert(spans.map(_._3) === w.map(_._3), s"doc $doc window counts")
        }
        assert(got.keySet === want.keySet)
      }
    }
  }

  test("windowHashes kernel ≡ declarative reference on random token arrays") {
    val docGen = Gen.listOfN(8,
      Gen.zip(Gen.choose(0, 14), Gen.choose(0L, 4L)).map {
        case (len, seed) => (0 until len).map(i => s"w${(i + seed) % 7}")
          .mkString(" ")
      })
    forAll(docGen) { texts =>
      val df = texts.toDF("text")
        .select(graft.ops.TextOps.tokens(col("text")).as("toks"))
      val kernel = df.select(explode(graft.functions.SketchExpressions
        .windowHashes(col("toks"), 3)).as("w"))
        .select(col("w.pos"), col("w.gh"))
      val ref = df.select(explode(graft.ops.Spans
        .tokenWindows(col("toks"), 3)).as("w"))
        .select(col("w.pos"), substring(md5(col("w.gram")), 1, 16).as("gh"))
      assert(kernel.exceptAll(ref).isEmpty && ref.exceptAll(kernel).isEmpty)
    }
  }

  test("covariance agg is partition-invariant and matches driver math") {
    val vecsGen = Gen.listOfN(12,
      Gen.listOfN(3, Gen.choose(-5.0, 5.0).map(_.toFloat)))
    forAll(Gen.zip(vecsGen, Gen.choose(1, 6))) { case (vecs, parts) =>
      if (vecs.nonEmpty) {
        val m = vecs.map(_.toArray).toDF("embedding")
          .repartition(parts)
          .agg(graft.functions.AggregateExpressions
            .vecCovariance(col("embedding"), 3))
          .head().getSeq[Double](0)
        val nD = vecs.size.toDouble
        for (i <- 0 until 3; j <- 0 until 3) {
          val mi = vecs.map(_(i).toDouble).sum / nD
          val mj = vecs.map(_(j).toDouble).sum / nD
          val want = vecs.map(v => v(i).toDouble * v(j).toDouble).sum / nD -
            mi * mj
          assert(math.abs(m(i * 3 + j) - want) < 1e-9,
            s"cov($i,$j) parts=$parts: ${m(i * 3 + j)} vs $want")
        }
      }
    }
  }

  test("ffill limit-n never bridges more than n nulls") {
    forAll(Gen.zip(seriesGen, Gen.choose(0, 4))) {
      case (xs, limit) =>
        val out = Windows.ffillLimited(toDf(xs), "v", "ts", Nil, limit)
          .orderBy("ts").collect()
          .map(r => if (r.isNullAt(1)) None else Some(r.getDouble(1)))
        // count consecutive fills after each observed value
        var sinceObs = Int.MaxValue
        xs.zip(out).foreach { case (in, o) =>
          if (in.isDefined) { sinceObs = 0; assert(o === in) }
          else {
            if (sinceObs != Int.MaxValue) sinceObs += 1
            if (sinceObs <= limit) assert(o.isDefined)
            else assert(o.isEmpty)
          }
        }
    }
  }

  test("UDG filter kernel equals the window-chain reference on random " +
    "keyed series") {
    // one cadence per draw, shared by the keys so the reference's one
    // mode over all keys is also each key's own; per key a regular
    // series with gaps, off-grid samples, null values, null and
    // out-of-band Q and spikes, anchored at its own first instant
    val keyGen = for {
      n <- Gen.choose(40, 120)
      anchor <- Gen.choose(0L, 86400L)
      kinds <- Gen.listOfN(n, Gen.frequency(
        8 -> 0, 1 -> 1, 1 -> 2)) // 0 on grid, 1 skip a point, 2 off-grid
      vals <- Gen.listOfN(n, Gen.frequency(
        6 -> Gen.choose(-0.3, 0.3).map(x => Some(2.0 + x)),
        1 -> Gen.choose(-3.0, 3.0).map(x => Some(2.0 + x)),
        1 -> Gen.const(None)))
      qs <- Gen.listOfN(n, Gen.frequency(
        6 -> Gen.const(Some(170.0)), 1 -> Gen.const(None),
        1 -> Gen.oneOf(Some(120.0), Some(250.0))))
    } yield (anchor, kinds, vals, qs)
    val gen = for {
      stepSec <- Gen.oneOf(600L, 900L, 3600L)
      keys <- Gen.listOfN(3, keyGen)
      ffillLimit <- Gen.choose(0, 4)
      medianDays <- Gen.oneOf(0.1, 0.25, 0.5, 2.0)
      tol <- Gen.oneOf(0.2, 0.5, 1.0)
    } yield (stepSec, keys, ffillLimit, medianDays, tol)
    forAll(gen, n = 8) { case (stepSec, keys, ffillLimit, medianDays, tol) =>
      val rows = keys.zipWithIndex.flatMap {
        case ((anchor, kinds, vals, qs), ki) =>
          var k = 0L
          kinds.zip(vals).zip(qs).zipWithIndex.flatMap {
            case (((kind, v), q), i) =>
              val sec = anchor + k * stepSec +
                (if (kind == 2 && i > 0) stepSec / 3 else 0L)
              k += (if (kind == 1) 2 else 1)
              // an off-grid sample sits between grid points: the next
              // one stays on the grid
              if (kind == 2 && i > 0) k -= 1
              Seq((s"st$ki", new java.sql.Timestamp(
                1620000000000L + sec * 1000L), v, q))
          }
      }.distinctBy(r => (r._1, r._2))
      val df = rows.toDF("station", "ts", "udg", "q")
      // the reference's global mode must equal every key's own
      rows.groupBy(_._1).values.foreach { rs =>
        val us = rs.map(_._2.getTime * 1000L).sorted.toArray
        assert(graft.ops.Udg.modalIntervalSec(us) === stepSec)
      }
      def values(out: org.apache.spark.sql.DataFrame) =
        out.select("station", "ts", "udg").collect().map { r =>
          (r.getString(0), r.getTimestamp(1)) ->
            Option(r.getAs[java.lang.Double](2)).map(_.doubleValue)
        }
      val got = values(graft.ops.Udg.filter(df, "udg", "q", "ts",
        Seq("station"), ffillLimit, medianDays, tol))
      val want = values(UdgReference.filter(df, "udg", "q", "ts",
        Seq("station"), ffillLimit, medianDays, tol)).toMap
      assert(got.length === rows.length)
      assert(want.keySet.subsetOf(got.map(_._1).toSet))
      // the reference drops off-grid instants; the kernel reports them
      // null
      got.foreach { case (at, v) =>
        assert(v === want.getOrElse(at, None), s"at $at")
      }
      assert(got.exists(_._2.isDefined))
    }
  }

  test("t52b overlap estimate tracks exact t52 (ε contract)") {
    // Controlled-J regime: two single-doc sources over a shared token
    // run. A = t0..t999, B = t300..t1299; 8-token windows ⇒ 993 grams
    // each, 693 shared, J = 693/1293 ≈ 0.536. KMV with K=256 has
    // σ ≈ √(J(1−J)/K) ≈ 0.031; md5 is seedless so the estimate is
    // DETERMINISTIC — the 4σ bound below cannot flake.
    val dir = java.nio.file.Files.createTempDirectory("t52b").toString
    def doc(lo: Int, hi: Int) = (lo until hi).map(i => s"t$i").mkString(" ")
    Seq((1L, doc(0, 1000), "srcA"), (2L, doc(300, 1300), "srcB"))
      .toDF("doc_id", "text", "source")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val exact = SparkEntry.queries("t52_source_overlap")(spark, dir)
      .collect().head.getAs[Long]("n_shared_grams").toDouble
    val est = SparkEntry.queries("t52b_source_overlap_est")(spark, dir)
      .collect().head
    assert(exact === 693.0)
    val jTrue = 693.0 / 1293.0
    assert(math.abs(est.getAs[Double]("j_est") - jTrue) <= 0.12,
      s"j_est ${est.getAs[Double]("j_est")} vs $jTrue")
    assert(math.abs(est.getAs[Double]("est_shared_grams") - exact)
      <= 0.3 * exact, s"est_shared ${est.getAs[Double]("est_shared_grams")}")

    // Testdata anchor (sf0.001): the estimator must agree with exact
    // t52 on which pairs DON'T overlap (KMV intersection of disjoint
    // sketches is empty ⇒ no false positives at this K — exact-zero,
    // not approximate), and stay within a loose-but-honest band on the
    // pairs that do (tiny-J regime: σ/J is large by nature here; the
    // tight contract is the controlled test above).
    val td = "/root/testdata/sf0.001"
    val ex = SparkEntry.queries("t52_source_overlap")(spark, td)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        r.getAs[Long]("n_shared_grams").toDouble).toMap
    val es = SparkEntry.queries("t52b_source_overlap_est")(spark, td)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        r.getAs[Double]("est_shared_grams")).toMap
    es.foreach { case (pair, e) =>
      val x = ex.getOrElse(pair, 0.0)
      if (x == 0.0) assert(e <= 5.0, s"false positive $pair est=$e")
      else if (x >= 30.0)
        assert(e >= 0.2 * x && e <= 4.0 * x, s"$pair est=$e exact=$x")
    }
  }

  test("warc: serialize→parse round-trips arbitrary records") {
    // Records with adversarial payloads — raw bytes including CRLF,
    // "WARC/1.0", gzip magic, NULs — serialized per the ISO 28500
    // grammar (shared NO code with the parser) must parse back
    // byte-exactly, concatenated in order, plain AND gzipped.
    import graft.ingest.Warc
    val recGen = for {
      url <- Gen.alphaNumStr.map(s => "https://x/" + s.take(20))
      typ <- Gen.oneOf("response", "request", "metadata")
      payload <- Gen.choose(0, 200).flatMap(n =>
        Gen.listOfN(n, Gen.choose(Byte.MinValue, Byte.MaxValue)))
    } yield (url, typ, payload.toArray)
    forAll(Gen.choose(1, 5).flatMap(Gen.listOfN(_, recGen)), n = 15) {
      recs =>
        val bytes = recs.flatMap { case (url, typ, pl) =>
          (s"WARC/1.0\r\nWARC-Type: $typ\r\n" +
            s"WARC-Target-URI: $url\r\n" +
            s"WARC-Date: 2026-08-13T00:00:00Z\r\n" +
            s"Content-Length: ${pl.length}\r\n\r\n").getBytes("UTF-8") ++
            pl ++ "\r\n\r\n".getBytes("UTF-8")
        }.toArray
        def check(rs: Seq[Warc.Record]): Unit = {
          assert(rs.length === recs.length)
          rs.zip(recs).foreach { case (r, (url, typ, pl)) =>
            assert(r.url === url && r.warcType === typ)
            assert(r.payload.toSeq === pl.toSeq)
          }
        }
        check(Warc.parseRecords(bytes))
        val bos = new java.io.ByteArrayOutputStream()
        val gz = new java.util.zip.GZIPOutputStream(bos)
        gz.write(bytes); gz.close()
        check(Warc.parseRecords(bos.toByteArray))
    }
  }

  test("twoLevelRank equals a global row_number on random scored data") {
    // the distributed two-level rank must be indistinguishable from
    // the one-reducer window it replaces — including duplicate scores
    // (same bucket, tiebreak) and scores straddling bucket boundaries
    import graft.ops.Windows
    import org.apache.spark.sql.expressions.Window
    val gen = Gen.listOfN(60, Gen.zip(Gen.choose(0, 2), Gen.choose(-50, 50)))
    forAll(gen, n = 6) { xs =>
      val df = xs.zipWithIndex.map { case ((g, v), i) =>
        (s"g$g", i.toLong, v.toDouble / 7.0) }.toDF("grp", "id", "s")
      val got = Windows
        .twoLevelRank(df, Seq("grp"), (-floor(col("s") * 10)).cast("long"),
          Seq(col("s").desc, col("id")), "rk")
        .select("grp", "id", "rk").collect()
        .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
      val want = df.withColumn("rk",
          row_number().over(Window.partitionBy("grp")
            .orderBy(col("s").desc, col("id"))).cast("long"))
        .select("grp", "id", "rk").collect()
        .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
      assert(got === want)
    }
  }

  test("twoLevelRank with broadcastBuckets=false is value-identical " +
    "(the flag only changes the bucket-join plan)") {
    import graft.ops.Windows
    val df = (0 until 80).map(i =>
      (s"g${i % 3}", i.toLong, (i * 37 % 23).toDouble)).toDF("grp", "id", "s")
    def ranks(bb: Boolean) = Windows
      .twoLevelRank(df, Seq("grp"), (-floor(col("s") * 10)).cast("long"),
        Seq(col("s").desc, col("id")), "rk", broadcastBuckets = bb)
      .select("grp", "id", "rk").collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(ranks(bb = false) === ranks(bb = true))
  }

  test("twoLevelPrefixSum equals a global exclusive running sum") {
    // same contract as the rank twin above: indistinguishable from
    // the one-reducer window, including duplicate scores and
    // bucket-boundary straddles; first row in order must get 0
    import graft.ops.Windows
    import org.apache.spark.sql.expressions.Window
    val gen = Gen.listOfN(60,
      Gen.zip(Gen.choose(0, 2), Gen.choose(-50, 50), Gen.choose(0, 9)))
    forAll(gen, n = 6) { xs =>
      val df = xs.zipWithIndex.map { case ((g, v, t), i) =>
        (s"g$g", i.toLong, v.toDouble / 7.0, t.toLong) }
        .toDF("grp", "id", "s", "tok")
      val got = Windows
        .twoLevelPrefixSum(df, Seq("grp"),
          (-floor(col("s") * 10)).cast("long"),
          Seq(col("s").desc, col("id")), col("tok"), "start")
        .select("grp", "id", "start").collect()
        .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
      val want = df.withColumn("start",
          coalesce(sum("tok").over(Window.partitionBy("grp")
            .orderBy(col("s").desc, col("id"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select("grp", "id", "start").collect()
        .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
      assert(got === want)
    }
  }

  test("twoLevelPrefixSum fails loudly on a null bucket key") {
    // a null key would silently vanish in the level-2 equi-join and
    // cannot order consistently across the two levels — the contract
    // is an eval-time error, not a dropped row
    import graft.ops.Windows
    val df = Seq((1L, Some(1.0), 2L), (2L, None, 3L))
      .toDF("id", "s", "tok")
    val ex = intercept[Throwable] {
      Windows.twoLevelPrefixSum(df, Seq.empty, col("s").cast("long"),
        Seq(col("s"), col("id")), col("tok"), "start").collect()
    }
    val msgs = Iterator.iterate(ex)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString("\n")
    assert(msgs.contains("bucket expression evaluated to NULL"),
      s"expected the loud null-bucket error, got:\n$msgs")
  }

  test("twoLevelRank fails loudly on a null bucket key") {
    // same contract as the prefix sum (it gained the guard later):
    // before it, null-bucket rows silently VANISHED in the level-2
    // join while still inflating every real bucket's level-1 offset
    import graft.ops.Windows
    val df = Seq((1L, Some(1.0)), (2L, None))
      .toDF("id", "s")
    val ex = intercept[Throwable] {
      Windows.twoLevelRank(df, Seq.empty, col("s").cast("long"),
        Seq(col("s"), col("id")), "r").collect()
    }
    val msgs = Iterator.iterate(ex)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString("\n")
    assert(msgs.contains("bucket expression evaluated to NULL"),
      s"expected the loud null-bucket error, got:\n$msgs")
  }

  test("twoLevelPrefixSum rejects a fractional value column instead " +
    "of silently truncating per row") {
    import graft.ops.Windows
    val df = Seq((1L, 1L, 0.7), (2L, 2L, 0.9)).toDF("id", "b", "wt")
    val ex = intercept[IllegalArgumentException] {
      Windows.twoLevelPrefixSum(df, Seq.empty, col("b"),
        Seq(col("b"), col("id")), col("wt"), "start")
    }
    assert(ex.getMessage.contains("integer arithmetic"),
      s"expected the integral-type rejection, got: ${ex.getMessage}")
  }

  test("mmrPicks survives a first candidate scoring exactly 0.0 and " +
    "ragged pool vectors") {
    import graft.functions.VectorExpressions
    // simq = 0.0 → the first unpicked candidate's score EQUALS the
    // argmax's 0.0 init; the tie branch used to read ids(-1) and
    // crash with ArrayIndexOutOfBoundsException
    val zeroFirst = Seq(Tuple1(Seq(
      (7L, 0.0, Seq(1.0, 0.0)), (8L, 0.0, Seq(0.0, 1.0)))))
      .toDF("cands")
      .select(explode(VectorExpressions.mmrPicks(col("cands"),
        0.7, 0.3, 2)).as("p"))
      .select(col("p.vec_id")).collect().map(_.getLong(0))
    assert(zeroFirst.toSeq === Seq(7L, 8L),
      "equal zero scores break to the smaller vec_id")
    // ragged vectors: cosine between different lengths is NaN (the
    // kernel convention), never a crash or a silent truncation
    val ragged = Seq(Tuple1(Seq(
      (1L, 0.9, Seq(1.0, 0.0)), (2L, 0.8, Seq(1.0, 0.0, 0.0)))))
      .toDF("cands")
      .select(explode(VectorExpressions.mmrPicks(col("cands"),
        0.7, 0.3, 2)).as("p"))
      .select(col("p.vec_id")).collect().map(_.getLong(0))
    assert(ragged.toSeq === Seq(1L, 2L))
  }

  test("mmrPicks is pool-order independent with zero-norm (NaN) vectors") {
    // two real candidates + two zero-norm vectors (cosine to any
    // picked vector = NaN). Plain >/== comparisons are both false
    // against NaN, which would let whichever NaN arrived first in the
    // non-deterministic pool order squat on a pick — the kernel must
    // instead prefer real scores over NaN and break NaN-vs-NaN on
    // vec_id, identically for every permutation of the pool
    import graft.functions.VectorExpressions
    val cands = Seq(
      (1L, 0.9, Seq(1.0, 0.0)),
      (2L, 0.8, Seq(0.6, 0.8)),
      (3L, 0.7, Seq(0.0, 0.0)), // zero-norm
      (4L, 0.65, Seq(0.0, 0.0))) // zero-norm
    val results = cands.permutations.toSeq.map { cs =>
      Seq(Tuple1(cs)).toDF("cands")
        .select(explode(VectorExpressions
          .mmrPicks(col("cands"), 0.7, 0.3, 4)).as("p"))
        .select("p.pick", "p.vec_id", "p.mmr").collect()
        .map(r => (r.getLong(0), r.getLong(1),
          java.lang.Double.doubleToLongBits(r.getDouble(2)))).toSeq
    }
    assert(results.distinct.size === 1,
      s"picks varied with pool order: ${results.distinct}")
    // picks 1-2 are the real-scored candidates; the NaN pair follows
    // in id order (3 before 4), their mmr NaN
    assert(results.head.map(p => (p._1, p._2)) ===
      Seq((1L, 1L), (2L, 2L), (3L, 3L), (4L, 4L)))
    assert(results.head.drop(2).forall(p =>
      java.lang.Double.isNaN(java.lang.Double.longBitsToDouble(p._3))))
  }

  test("t95 budget selection equals a sequential greedy replay") {
    // collect (q, tok) from the REGISTERED t7/d6 queries, replay the
    // greedy-by-quality cut sequentially, and demand the same
    // per-source aggregates — plus the budget sandwich the cut
    // implies: 4·tok_kept < total + 4·max_tok (the one straddler),
    // and 4·tok_kept ≥ total when anything was excluded
    val dir = "/root/testdata/sf0.001"
    val q = SparkEntry.queries("t7_quality")(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val tok = SparkEntry.queries("d6_bpe_tokens")(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val src = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val total = tok.values.sum
    val order = q.keys.toSeq.sortBy(id => (-q(id), id))
    var run = 0L
    val kept = order.takeWhile { id =>
      val in = run * 4 < total; run += tok(id); in
    }.toSet
    val wantBySrc = src.keys.toSeq.groupBy(src)
      .map { case (s0, ids) =>
        val k = ids.filter(kept) // Seq, not Set — map(tok) must not dedupe
        s0 -> ((k.size.toLong, k.map(tok).sum,
          k.size.toLong * 1000000 / ids.size)) }
    val got = SparkEntry.queries("t95_token_budget_select")(spark, dir)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got === wantBySrc)
    val tokKept = kept.toSeq.map(tok).sum
    assert(4 * tokKept < total + 4 * tok.values.max,
      "budget overshoots by more than the straddler")
    if (kept.size < tok.size)
      assert(4 * tokKept >= total, "budget undershoots with docs left")
  }

  test("t75 terciles are ordered, exhaustive, and near-equal-sized") {
    // Within every language: every head score >= every middle score >=
    // every tail score (the two-level rank must reproduce a true
    // global order), tercile sizes differ by at most 1, and all three
    // buckets are non-empty on the test slice (non-vacuity — an
    // off-by-one in the rank arithmetic would empty one).
    val rows = SparkEntry.queries("t75_ccnet_buckets")(
        spark, "/root/testdata/sf0.001")
      .groupBy("lang", "ppl_bucket")
      .agg(count(lit(1)).as("n"), min("lm_lp").as("lo"),
        max("lm_lp").as("hi"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap
    val langs = rows.keys.map(_._1).toSeq.distinct
    assert(langs.nonEmpty)
    langs.foreach { lang =>
      val get = (b: String) => rows.get((lang, b))
      Seq("head", "middle", "tail").foreach(b =>
        assert(get(b).nonEmpty, s"$lang/$b is empty"))
      val Seq(h, m, t) = Seq("head", "middle", "tail").map(b => get(b).get)
      assert(h._2 >= m._3 && m._2 >= t._3,
        s"$lang tercile score ranges overlap out of order: $h $m $t")
      val sizes = Seq(h._1, m._1, t._1)
      assert(sizes.max - sizes.min <= 1,
        s"$lang tercile sizes skewed: $sizes")
    }
  }

  test("t90 batches respect the token budget modulo one straddler") {
    // assignment is by START position, so a batch's token sum can
    // exceed the budget only by the tail of its last (straddling)
    // doc: sum ≤ 2048 + max_len − 1. Also padding is a true fraction.
    val rows = SparkEntry.queries("t90_length_batches")(
      spark, "/root/testdata/sf0.001").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (nTok, maxLen, pad) = (r.getAs[Long]("n_tokens"),
        r.getAs[Long]("max_len"), r.getAs[Long]("pad_ppm"))
      assert(nTok <= 2048 + maxLen - 1,
        s"batch over budget beyond its straddler: $r")
      assert(pad >= 0 && pad < 1000000, s"pad_ppm out of range: $r")
      // bucket width 64 bounds intra-batch length spread. Bucket 0
      // admits max_len 0: an all-empty-docs batch (the edge the
      // query's greatest(n_seqs*max_len, 1) pad guard exists for)
      // lands there via greatest(n_tok,1)-1 — demanding >= 1 would
      // fail on exactly the input the production query is hardened
      // against.
      val bucket = r.getAs[Long]("bucket")
      val lo = if (bucket == 0L) 0L else bucket * 64 + 1
      assert(maxLen >= lo && maxLen <= bucket * 64 + 64,
        s"max_len outside its bucket: $r")
    }
  }

  test("t91 MMR equals a sequential greedy-MMR replay, pick by pick") {
    // NOT asserted: "scores non-increasing in pick order" — that is
    // not a theorem of MMR. With a NEGATIVE cosine to an earlier
    // pick, the −0.3·max_sim penalty is a BONUS and a later pick can
    // legitimately out-score an earlier one (the shipped pools carry
    // pairwise sims down to −0.23, so a testdata regeneration could
    // plant a violation with no code change). The real invariant is
    // the algorithm itself: replay the greedy selection sequentially
    // from the same pools and demand identical picks AND scores.
    val picks = SparkEntry.queries("t91_mmr_diversify")(
      spark, "/root/testdata/sf0.001").collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("pick"),
        r.getAs[Long]("vec_id"), r.getAs[Double]("mmr")))
    val byQ = picks.groupBy(_._1)
    assert(byQ.nonEmpty && byQ.values.forall(_.length === 3))
    byQ.values.foreach(ps => assert(ps.map(_._3).distinct.length === 3))

    // sequential reference: same float→double cast, same left-to-right
    // dot-product fold as VecCosineExpr, same (desc score, asc id)
    // tie-breaks, same HALF_UP 6-dp rounding as round(col, 6)
    val vecs = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var ab = 0.0; var aa = 0.0; var bb = 0.0; var i = 0
      while (i < a.length) {
        ab += a(i) * b(i); aa += a(i) * a(i); bb += b(i) * b(i); i += 1
      }
      ab / (math.sqrt(aa) * math.sqrt(bb))
    }
    def r6(v: Double): Double =
      BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    (0L until 5L).foreach { qid =>
      val qv = vecs(qid)
      val pool = vecs.toSeq.filter(_._1 != qid)
        .map { case (id, v) => (id, cos(qv, v), v) }
        .sortBy { case (id, s, _) => (-s, id) }.take(10)
      var picked = List.empty[(Long, Double)] // (vec_id, mmr) in order
      (1 to 3).foreach { _ =>
        val best = pool
          .filterNot(c => picked.exists(_._1 == c._1))
          .map { case (id, simq, v) =>
            val m =
              if (picked.isEmpty) simq * 0.7 // no penalty term at all
              else {
                val pen = picked.map(p => cos(vecs(p._1), v))
                  .foldLeft(Double.NegativeInfinity)(math.max)
                simq * 0.7 - pen * 0.3
              }
            (id, m)
          }
          .minBy { case (id, m) => (-m, id) }
        picked = picked :+ best
      }
      val got = byQ(qid).sortBy(_._2).map(p => (p._3, p._4))
      val want = picked.map { case (id, m) => (id, r6(m)) }
      assert(got.toList === want,
        s"qid=$qid: distributed MMR $got != sequential replay $want")
    }
  }

  test("t101 loss spans are disjoint, in-range, and sum to the " +
    "loss-token count") {
    val dir = "/root/testdata/sf0.001"
    val rows = SparkEntry.queries("t101_chat_template")(spark, dir)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val nTurns = r.getLong(2); val nTok = r.getLong(3)
      val nLoss = r.getLong(4); val spansS = r.getString(5)
      assert(nTurns >= 1 && nTurns <= 4)
      val spans =
        if (spansS.isEmpty) Seq.empty
        else spansS.split(";").toSeq.map { sp =>
          val Array(lo, hi) = sp.split(":").map(_.toLong); (lo, hi)
        }
      // alternating roles starting at user: assistant turns = ⌊n/2⌋
      assert(spans.size == nTurns / 2,
        s"span count ${spans.size} != assistant turns for $r")
      assert(spans.map { case (lo, hi) => hi - lo }.sum == nLoss)
      spans.foreach { case (lo, hi) =>
        assert(lo >= 0 && lo < hi && hi <= nTok) }
      // strictly ordered and disjoint (prefix-sum positions)
      spans.sliding(2).foreach {
        case Seq((_, h1), (l2, _)) => assert(h1 <= l2)
        case _                     => }
    }
    // every doc lands in exactly one conversation turn
    val docs = spark.read.parquet(s"$dir/documents.parquet").count()
    assert(rows.map(_.getLong(2)).sum == docs)
  }

  test("t102 schedule equals a sequential Bresenham apportionment " +
    "replay") {
    val dir = "/root/testdata/sf0.001"
    val tokBySrc = spark.read.parquet(s"$dir/documents.parquet")
      .select("source", "text").collect()
      .map(r => r.getString(0) ->
        Option(r.getString(1)).getOrElse("")
          .toLowerCase.split("\\s+", -1).length.toLong)
      .groupBy(_._1).map { case (s0, xs) => s0 -> xs.map(_._2).sum }
    val tAll = math.max(tokBySrc.values.sum, 1L)
    val want = (for {
      (src, tk) <- tokBySrc.toSeq
      step <- 0L until 100L
      cum = (step + 1) * tk * 8 / tAll
      slots = cum - step * tk * 8 / tAll
      if slots > 0
    } yield (step, src, slots, cum)).toSet
    val got = SparkEntry.queries("t102_batch_schedule")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1),
        r.getLong(2), r.getLong(3))).toSet
    assert(got === want)
    // every schedule prefix is within one sample of its exact quota
    want.foreach { case (step, src, _, cum) =>
      val exact = (step + 1).toDouble * tokBySrc(src) * 8 / tAll
      assert(cum <= exact && exact - cum < 1.0) }
  }

  test("t104 held-out KN scoring equals a sequential model replay") {
    // train the interpolated-KN trigram model on the even split in
    // plain Scala (same tokenization, same double expression trees,
    // same HALF_UP micro rounding) and score the odd split — the
    // distributed backoff-join chain must agree doc-for-doc
    val dir = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> Option(r.getString(1)).getOrElse(""))
    def tgsOf(text: String): Seq[String] = {
      val toks = text.toLowerCase.split("\\s+", -1).toSeq
      if (toks.size < 3) Seq.empty
      else toks.sliding(3).map(_.mkString(" ")).toSeq
    }
    val train = docs.filter(_._1 % 2 == 0).flatMap(d => tgsOf(d._2))
    val c3 = train.groupBy(identity).map { case (t, xs) =>
      t -> xs.length.toLong }
    def last2(t: String) = t.split(" ", 2)(1)
    def first2(t: String) = { val i = t.lastIndexOf(' '); t.take(i) }
    def lastW(t: String) = t.drop(t.lastIndexOf(' ') + 1)
    def firstW(t: String) = t.takeWhile(_ != ' ')
    val ctx = c3.groupBy { case (t, _) => first2(t) }
      .map { case (c, m) => c -> ((m.values.sum, m.size.toLong)) }
    val mid = c3.keys.groupBy(last2).map { case (b, xs) =>
      b -> xs.size.toLong }
    val midCtx = mid.groupBy { case (b, _) => firstW(b) }
      .map { case (w, m) => w -> ((m.values.sum, m.size.toLong)) }
    val uni = mid.keys.groupBy(lastW).map { case (w, xs) =>
      w -> xs.size.toLong }
    val nbt = mid.size.toDouble
    def microLp(tg: String): Long = {
      val w3 = lastW(last2(tg))
      val pc = (uni.getOrElse(w3, 0L) + 0.5) / (nbt + 0.5)
      val b = last2(tg)
      val p2 = midCtx.get(firstW(b)) match {
        case Some((ccdot2, n2w2)) =>
          (math.max(mid.getOrElse(b, 0L) - 0.75, 0.0) +
            0.75 * n2w2 * pc) / ccdot2
        case None => pc
      }
      val p3 = ctx.get(first2(tg)) match {
        case Some((c12, n1ctx)) =>
          (math.max(c3.getOrElse(tg, 0L) - 0.75, 0.0) +
            0.75 * n1ctx * p2) / c12
        case None => p2
      }
      new java.math.BigDecimal(math.log(p3) * 1000000.0)
        .setScale(0, java.math.RoundingMode.HALF_UP).longValueExact()
    }
    val want = docs.filter(_._1 % 2 == 1)
      .map { case (id, tx) => id -> tgsOf(tx) }
      .filter(_._2.nonEmpty)
      .map { case (id, ts) =>
        val sum = ts.map(microLp).sum
        (id, ts.size.toLong, sum,
          if (sum >= -8000000L * ts.size) 1L else 0L)
      }.toSet
    val got = SparkEntry.queries("t104_kn_doc_ppl")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(got === want)
  }

  test("t105 card equals a replay from its verified building blocks " +
    "(t7 score, d6 tokens, t54 hash)") {
    val dir = "/root/testdata/sf0.001"
    val qm = SparkEntry.queries("t7_quality")(spark, dir).collect()
      .map(r => r.getLong(0) ->
        math.round(r.getDouble(1) * 1000000.0)).toMap
    val tok = SparkEntry.queries("d6_bpe_tokens")(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val hash = SparkEntry.queries("t54_canonical_hash")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "source", "lang", "n_chars").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3)))
    val want = docs.groupBy(_._2).map { case (src, xs) =>
      val n = xs.length.toLong
      val topLang = xs.groupBy(_._3).toSeq
        .map { case (l, ys) => (l, ys.length) }
        .minBy { case (l, c) => (-c, l) }._1
      (src, n, xs.map(x => tok(x._1)).sum,
        (n - xs.map(x => hash(x._1)).distinct.length) * 1000000L / n,
        topLang, xs.map(x => qm(x._1)).sum / n,
        xs.map(_._4).sum * 100 / n)
    }.toSet
    val got = SparkEntry.queries("t105_data_card")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getString(4), r.getLong(5), r.getLong(6))).toSet
    assert(got === want)
  }

  test("t103 pairs equal a per-source rank replay; chosen and " +
    "rejected sets never overlap") {
    val dir = "/root/testdata/sf0.001"
    val q = SparkEntry.queries("t7_quality")(spark, dir).collect()
      .map(r => r.getLong(0) ->
        math.round(r.getDouble(1) * 1000000.0)).toMap
    val bySrc = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1))
      .groupBy(_._2).map { case (s0, xs) => s0 -> xs.map(_._1).toSeq }
    val want = bySrc.flatMap { case (src, ids) =>
      val ranked = ids.sortBy(id => (-q(id), id))
      val n = ranked.size; val half = n / 2
      (0 until half).map { i =>
        val c = ranked(i); val rj = ranked(i + (n - half))
        (src, (i + 1).toLong, c, rj, q(c), q(rj), q(c) - q(rj),
          if (q(c) - q(rj) >= 50000L) 1L else 0L)
      }
    }.toSet
    val rows = SparkEntry.queries("t103_dpo_pairs")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6),
        r.getLong(7)))
    assert(rows.toSet === want)
    rows.foreach(r => assert(r._7 >= 0, s"negative margin in $r"))
    val chosen = rows.map(_._3).toSet; val rejected = rows.map(_._4).toSet
    assert(chosen.intersect(rejected).isEmpty,
      "a doc must not appear on both sides of the preference table")
  }

  test("TFRecord proto codec: encode∘decode = id over arbitrary " +
    "feature maps, and framing survives arbitrary payload bytes") {
    import graft.sink.TfRecord
    import graft.sink.TfRecord.{BytesVal, FloatVal, Int64Val}
    val nameGen = Gen.nonEmptyListOf(Gen.alphaNumChar).map(_.mkString)
      .map(_.take(12))
    val valGen: Gen[TfRecord.FeatureVal] = Gen.oneOf(
      Gen.listOf(Gen.choose(Long.MinValue, Long.MaxValue)).map(Int64Val),
      Gen.listOf(Gen.choose(-1e30f, 1e30f)).map(FloatVal),
      Gen.listOf(Gen.listOf(Gen.choose(Byte.MinValue, Byte.MaxValue))
        .map(_.toArray)).map(BytesVal))
    val featsGen = Gen.listOf(Gen.zip(nameGen, valGen))
      // duplicate names collapse map-style (last by sorted order
      // wins on decode) — restrict to distinct keys, the writer's
      // contract (distinct column names)
      .map(_.distinctBy(_._1))
    forAll(featsGen, n = 40) { feats =>
      val bytes = TfRecord.encodeExample(feats)
      val back = TfRecord.decodeExample(bytes)
      assert(back.keySet === feats.map(_._1).toSet)
      feats.foreach {
        case (name, Int64Val(vs)) => assert(back(name) === Int64Val(vs))
        case (name, FloatVal(vs)) => assert(back(name) === FloatVal(vs))
        case (name, BytesVal(vs)) =>
          val BytesVal(got) = back(name)
          assert(got.length === vs.length &&
            got.zip(vs).forall { case (a, b) => a.sameElements(b) })
      }
      // framing: any payload (the encoded example) frames and
      // re-parses with both CRCs intact
      val f = TfRecord.frame(bytes)
      assert(f.length === bytes.length + 16)
    }
  }
}
