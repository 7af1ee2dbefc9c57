package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop}
import graft.ops.{Dedup, Sizing, TextAnalytics, VectorOps}
import graft.ops.CheckpointsSpec.{cutShuffles, unfreed}

/** Dedup kernels: native-expression parity with Spark's xxhash64, LSH
  * collision guarantees, and end-to-end pair extraction. */
class DedupSpec extends SparkSpec {

  test("ShingleHash64 kernel equals xxhash64(concat_ws) per window (property)") {
    val word = Gen.nonEmptyListOf(Gen.alphaNumChar).map(_.mkString.toLowerCase)
    val gen = Gen.listOfN(8, word)
    checkProp(Prop.forAll(gen) { words =>
      val text = words.mkString(" ")
      val df = spark.createDataFrame(Seq((1, text))).toDF("id", "text")
      // kernel path
      val fast = df.select(Dedup.shingleHashes64(col("text"), 3).as("sh"))
        .collect().head.getSeq[Long](0).toSet
      // declarative model: xxhash64 over each concat_ws(" ", window)
      val toks = TextAnalytics.tokensCol(col("text"))
      val model = df.select(
        when(size(toks) >= 3,
          transform(sequence(lit(0), size(toks) - 3),
            i => xxhash64(concat_ws(" ", slice(toks, i + 1, lit(3))))))
          .otherwise(array(xxhash64(concat_ws(" ", toks)))).as("h"))
        .collect().head.getSeq[Long](0).toSet
      fast == model
    }, minTests = 30)
  }

  test("identical documents always share every minhash band bucket") {
    val df = spark.createDataFrame(Seq(
      (1, "the quick brown fox jumps over the lazy dog again and again"),
      (2, "the quick brown fox jumps over the lazy dog again and again"),
      (3, "entirely different content with no overlap whatsoever here")))
      .toDF("doc_id", "text")
    val out = Dedup.minhashDupPairs(df, col("doc_id"), col("text"))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getDouble(2)))
    assert(out.toSeq == Seq((1, 2, 1.0)))
  }

  test("minhash Jaccard verification filters sub-threshold band collisions") {
    // doc 2 shares a prefix with doc 1 but jaccard << 0.7
    val common = "alpha beta gamma delta epsilon"
    val df = spark.createDataFrame(Seq(
      (1, common + " one two three four five six seven eight nine ten"),
      (2, common + " uno dos tres cuatro cinco seis siete ocho nueve diez")))
      .toDF("doc_id", "text")
    val out = Dedup.minhashDupPairs(df, col("doc_id"), col("text"),
      jaccardThreshold = 0.7)
    assert(out.count() == 0)
  }

  test("prefix-filtered all-pairs Jaccard: exact recall (lemma) on " +
    "near-dup, shared-prefix and disjoint docs") {
    val common = "alpha beta gamma delta epsilon zeta eta theta"
    val df = spark.createDataFrame(Seq(
      // near-dup pair (differ by a trailing token): J well above 0.7
      (1L, common + " one two three four five six seven eight nine ten"),
      (2L, common + " one two three four five six seven eight nine zz"),
      // shares the common prefix tokens only: candidate maybe, pair no
      (3L, common + " uno dos tres cuatro cinco seis siete ocho nueve diez"),
      (4L, "entirely different content with no overlap whatsoever here")))
      .toDF("doc_id", "text")
    val out = Dedup.jaccardPrefixPairs(df, col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSeq == Seq((1L, 2L)))
  }

  test("prefix-filtered pairs == minhash pairs on the real corpus " +
    "(deterministic recall matches the S-curve path)") {
    val d = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text"))
    val dupped = d.union(d.select(col("doc_id") + 100000000L, col("text")))
    val prefix = Dedup.jaccardPrefixPairs(dupped, col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val minhash = Dedup.minhashDupPairs(dupped, col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(prefix == minhash)
    assert(prefix.nonEmpty)
  }

  test("jaccardPrefixPairs: disk-budget staging (forced max passes) is " +
    "row-identical to the single-pass plan — hash-disjoint bucket groups " +
    "cover every candidate, cross-pass re-verifies collapse in the final " +
    "distinct") {
    val d = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text"))
    val dupped = d.union(d.select(col("doc_id") + 100000000L, col("text")))
    def run(): Set[(Long, Long, Double)] =
      Dedup.jaccardPrefixPairs(dupped, col("doc_id"), col("text"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val conf = spark.conf
    conf.set("spark.graft.pairSpillBudget", "-1") // unbounded: 1 pass
    val single = try run() finally conf.unset("spark.graft.pairSpillBudget")
    conf.set("spark.graft.pairSpillBudget", "1") // 1 byte: cap kicks in
    conf.set("spark.graft.pairMaxPasses", "4")   // pinned for test speed
    val (staged, passShuffles) = try cutShuffles(spark)(run()) finally {
      conf.unset("spark.graft.pairSpillBudget")
      conf.unset("spark.graft.pairMaxPasses")
    }
    assert(staged == single)
    assert(single.nonEmpty)
    // every pass's cut freed its shuffles, no driver GC involved
    assert(passShuffles.nonEmpty)
    assert(unfreed(spark, passShuffles).isEmpty)
  }

  test("jaccardPrefixPairs: the sort-merge verify fallback (broadcast " +
    "disabled) is row-identical to the broadcast-verify default") {
    val d = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text"))
    val dupped = d.union(d.select(col("doc_id") + 100000000L, col("text")))
    def run(): Set[(Long, Long, Double)] =
      Dedup.jaccardPrefixPairs(dupped, col("doc_id"), col("text"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val conf = spark.conf
    val bcast = run() // default: signature table under 2 GiB → broadcast
    conf.set("spark.graft.verifyBroadcastBytes", "0") // force sort-merge
    val smj = try run()
      finally conf.unset("spark.graft.verifyBroadcastBytes")
    assert(smj == bcast)
    assert(bcast.nonEmpty)
  }

  test("minhashDupPairs: a verify-broadcast budget under 32× the leaf " +
    "bytes takes the keyed join — duplicated text compresses far past 4×") {
    import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, Join}
    import spark.implicits._
    val rng = new scala.util.Random(7)
    val d = (0L until 60L).map(i =>
        (i, Seq.fill(30)(s"w${rng.nextInt(200)}").mkString(" ")))
      .toDF("doc_id", "text")
    val dupped = d.union(d.select(col("doc_id") + 100000000L, col("text")))
    val leaf = Sizing.leafPlanBytes(dupped)
    assert(leaf > 0)
    assert(!Sizing.sharedKernelCutOk(dupped), "corpus must take the " +
      "sub-gate (leaf-estimate) broadcast check")
    // verify joins carrying a broadcast hint on their signature side
    def run(): (Int, Set[(Long, Long, Double)]) = {
      val pairs = Dedup.minhashDupPairs(dupped, col("doc_id"), col("text"))
      val hinted = pairs.queryExecution.optimizedPlan.collect {
        case j: Join if j.hint.rightHint.exists(_.strategy.contains(BROADCAST)) => j
      }.size
      (hinted, pairs.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet)
    }
    val (bcastJoins, bcast) = run() // default 2 GiB: broadcast verify
    assert(bcastJoins == 2)
    // between the old 8× bound and the 32× one
    spark.conf.set(Sizing.VerifyBroadcastBytesConf, (leaf * 16).toString)
    val (keyedJoins, keyed) = try run()
      finally spark.conf.unset(Sizing.VerifyBroadcastBytesConf)
    assert(keyedJoins == 0, "a budget under 32× the leaf bytes must keep " +
      "the keyed verify join")
    assert(keyed == bcast)
    assert(bcast.nonEmpty)
  }

  test("jaccardPrefixPairs: live-disk sub-split (forced via the usable " +
    "override) is row-identical — a pass that would out-spill the disk " +
    "splits itself on a salted second hash, disjoint within the pass") {
    val d = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text"))
    val dupped = d.union(d.select(col("doc_id") + 100000000L, col("text")))
    def run(): Set[(Long, Long, Double)] =
      Dedup.jaccardPrefixPairs(dupped, col("doc_id"), col("text"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val conf = spark.conf
    conf.set("spark.graft.pairSpillBudget", "-1")
    val single = try run() finally conf.unset("spark.graft.pairSpillBudget")
    conf.set("spark.graft.pairSpillBudget", "1")
    conf.set("spark.graft.pairMaxPasses", "2")
    conf.set("spark.graft.pairSpillUsable", "1") // 1 usable byte: sub=16
    val (staged, passShuffles) = try cutShuffles(spark)(run()) finally {
      conf.unset("spark.graft.pairSpillBudget")
      conf.unset("spark.graft.pairMaxPasses")
      conf.unset("spark.graft.pairSpillUsable")
    }
    assert(staged == single)
    assert(single.nonEmpty)
    assert(passShuffles.nonEmpty)
    assert(unfreed(spark, passShuffles).isEmpty)
  }

  test("spillDir is the local dir Spark itself spills to") {
    val dir = Sizing.spillDir(spark)
    // the driver's file root is <local dir>/spark-<uuid>/userFiles-<uuid>
    val root = new java.io.File(org.apache.spark.SparkFiles.getRootDirectory())
    assert(dir.getCanonicalFile == root.getParentFile.getParentFile.getCanonicalFile,
      s"spillDir $dir, Spark's file root $root")
  }

  test("pairSpillBudget default never exceeds a third of the spill dir's " +
    "usable space (no fixed floor over a small or RAM-backed dir)") {
    // ADVICE r20 #2: an 8 GiB floor planned 8 GiB of spill into any dir
    // with under 24 GiB usable, tmpfs included. Usable space is read on
    // both sides of the call, so a neighbour writing to the same disk
    // cannot flake the bound.
    val dir = Sizing.spillDir(spark)
    val before = dir.getUsableSpace
    val budget = Sizing.pairSpillBudget(spark)
    val after = dir.getUsableSpace
    assert(budget >= 0L)
    assert(budget <= math.max(before, after) / 3,
      s"default budget $budget B exceeds a third of $dir's usable space " +
        s"(${math.max(before, after)} B)")
  }

  test("minhashIncremental: cross-side pairs only, incl. a doc present on " +
    "both sides; existing↔existing never re-paired") {
    val t1 = "the quick brown fox jumps over the lazy dog again and again"
    val t2 = "completely unrelated corpus text about distributed query engines"
    val t3 = "yet another separate document mentioning streaming watermarks only"
    // existing docs 1 and 2 are IDENTICAL — a within-corpus dup the
    // incremental pass must NOT report (that's minhashDupPairs' job)
    val existing = spark.createDataFrame(Seq((1L, t1), (2L, t1), (3L, t2)))
      .toDF("doc_id", "text")
    // incoming doc 10 is t1 again (present on both sides); 11 is fresh
    val incoming = spark.createDataFrame(Seq((10L, t1), (11L, t3)))
      .toDF("doc_id", "text")
    val out = Dedup.minhashIncremental(existing, incoming,
      col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.toSeq == Seq((1L, 10L, 1.0), (2L, 10L, 1.0)))
  }

  test("minhashIncremental on the corpus == cross-side slice of the " +
    "all-pairs truth (shifted-copy batch)") {
    val d = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text"))
    val incoming = d.select((col("doc_id") + 100000000L).as("doc_id"), col("text"))
    val inc = Dedup.minhashIncremental(d, incoming, col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val dupped = d.union(incoming)
    val cross = Dedup.minhashDupPairs(dupped, col("doc_id"), col("text"))
      .filter(col("id_a") < 100000000L && col("id_b") >= 100000000L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(inc == cross)
    assert(inc.nonEmpty)
  }

  test("jaccardPrefixPairs: short docs (single-shingle fallback) keep their " +
    "duplicate pairs — no minimum-size exclusion") {
    val df = spark.createDataFrame(Seq(
      (1L, "tiny doc"), (2L, "tiny doc"), // < 3 tokens → whole-doc shingle
      (3L, "some longer unrelated document with many distinct tokens here"),
      (4L, "tiny other"))).toDF("doc_id", "text")
    val out = Dedup.jaccardPrefixPairs(df, col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.toSeq == Seq((1L, 2L, 1.0)))
  }

  test("SimHash64: identical token streams -> hamming 0; near-identical small") {
    val df = spark.createDataFrame(Seq(
      (1, "spark catalyst tungsten codegen shuffle partition broadcast join"),
      (2, "spark catalyst tungsten codegen shuffle partition broadcast join"),
      (3, "spark catalyst tungsten codegen shuffle partition broadcast merge")))
      .toDF("doc_id", "text")
    val pairs = Dedup.simhashDupPairs(df, col("doc_id"), col("text"),
      maxHamming = 10)
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getInt(2)).toMap
    assert(pairs((1, 2)) == 0)
    assert(pairs.get((1, 3)).forall(_ > 0))
  }

  test("SimHash64 kernel is deterministic and order-sensitive only via sums") {
    import spark.implicits._
    val a = Seq("x y z x y z").toDF("text")
      .select(Dedup.simhash64(col("text"))).first().getLong(0)
    val b = Seq("z y x z y x").toDF("text")
      .select(Dedup.simhash64(col("text"))).first().getLong(0)
    assert(a == b) // bag-of-tokens: order must not matter
  }

  test("exact dedup groups by content and keeps min id") {
    val df = spark.createDataFrame(Seq(
      (10, "same text"), (3, "same text"), (7, "other")))
      .toDF("doc_id", "text")
    val out = Dedup.exact(df, col("doc_id"), col("text"))
      .collect().map(r => (r.getInt(1), r.getLong(2))).toSet
    assert(out == Set((3, 2L), (7, 1L)))
  }

  test("embedding near-dup: duplicated vector found, orthogonal not") {
    val v1 = Array.tabulate(16)(i => math.sin(i + 1).toFloat)
    val v3 = Array.tabulate(16)(i => math.cos(3 * i + 2).toFloat)
    val df = spark.createDataFrame(Seq(
      (1, v1), (2, v1.clone()), (3, v3))).toDF("vec_id", "embedding")
    val out = Dedup.embeddingNearDupLsh(df, col("vec_id"), col("embedding"),
      planes = 8, cosineThreshold = 0.99)
      .collect().map(r => (r.getInt(0), r.getInt(1)))
    assert(out.toSeq == Seq((1, 2)))
  }

  test("multi-band near-dup is a superset of single-band (recall improves)") {
    val rng = new scala.util.Random(3)
    val rows = (0 until 60).map { i =>
      (i, Array.tabulate(16)(j => (rng.nextGaussian() + (i % 6)).toFloat))
    }
    val df = spark.createDataFrame(rows).toDF("vec_id", "embedding")
    def pairs(bands: Int) =
      Dedup.embeddingNearDupLsh(df, col("vec_id"), col("embedding"),
        planes = 8, bands = bands, cosineThreshold = 0.95)
        .collect().map(r => (r.getInt(0), r.getInt(1))).toSet
    val one = pairs(1)
    val three = pairs(3)
    assert(one.subsetOf(three))
  }

  test("ANN LSH top-k: twin retrieved at rank 1, subset of brute-force candidates") {
    val rng = new scala.util.Random(5)
    val rows = (0 until 80).map { i =>
      val v = Array.tabulate(16)(_ => rng.nextGaussian().toFloat)
      (i, if (i == 70) null else v) // placeholder, replaced below
    }
    // vec 70 = exact copy of vec 0 (the planted twin)
    val fixed = rows.map { case (i, v) => (i, if (i == 70) rows.head._2 else v) }
    val df = spark.createDataFrame(fixed).toDF("vec_id", "embedding")
    val out = VectorOps.annLshTopK(df, df.filter(col("vec_id") === 0), k = 10,
      planes = 5, bands = 4)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(3)))
    assert(out.nonEmpty)
    // identical vector shares every band bucket -> always a candidate,
    // and cosine 1.0 ranks it first
    assert(out.exists { case (q, n, rank) => q == 0 && n == 70 && rank == 1L })
  }

  test("positive scaling preserves hyperplane buckets (ann planted-cluster recall guarantee)") {
    // sign(c·v · p) = sign(v · p) for c > 0, so a positively-scaled copy
    // collides with its original in EVERY band — the geometric guarantee
    // behind the ann_lsh_topk oracle's planted duplicate clusters
    val gen = for {
      seed <- Gen.chooseNum(1, 1000)
      c <- Gen.chooseNum(1, 100)
    } yield (seed, c)
    checkProp(Prop.forAll(gen) { case (seed, c) =>
      val v = Array.tabulate(16)(i => math.sin(seed * (i + 1) + 0.1))
      val scaled = v.map(_ * (1.0 + c / 1000.0))
      val df = spark.createDataFrame(Seq((1, v), (2, scaled)))
        .toDF("vec_id", "embedding")
      val buckets = df.select(
        graft.functions.HashFunctions.hyperplaneBucket(col("embedding"), 24))
        .collect().map(_.getLong(0))
      buckets(0) == buckets(1)
    }, minTests = 25)
  }

  test("identical vectors always share the hyperplane bucket (property)") {
    val gen = Gen.listOfN(12, Gen.chooseNum(-100, 100))
    checkProp(Prop.forAll(gen) { xs =>
      val v = xs.map(_.toFloat / 7f).toArray
      val df = spark.createDataFrame(Seq((1, v), (2, v.clone())))
        .toDF("vec_id", "embedding")
      val buckets = df.select(
        graft.functions.HashFunctions.hyperplaneBucket(
          col("embedding").cast("array<double>"), 16))
        .collect().map(_.getLong(0))
      buckets(0) == buckets(1)
    }, minTests = 20)
  }

  test("removeDuplicatedSpans drops exactly the cross-doc covered " +
    "positions and passes short/empty docs through") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps"), // shares "the quick brown" w/ 2
      (2L, "the quick brown cat sits"),
      (3L, "totally unique words here today"),
      (4L, "ab"),                        // < n tokens: no spans possible
      (5L, "")).toDF("doc_id", "text")
    val out = Dedup.removeDuplicatedSpans(docs, col("doc_id"), col("text"),
        n = 3).collect()
    val by = out.map(r => r.getLong(0) ->
      (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(by(1L) == ((2L, 3L, "fox jumps")))
    assert(by(2L) == ((2L, 3L, "cat sits")))
    assert(by(3L) == ((5L, 0L, "totally unique words here today")))
    assert(by(4L) == ((1L, 0L, "ab")))
    assert(by(5L) == ((0L, 0L, "")))
  }

  test("semanticDecontaminate flags exact and near matches, passes " +
    "orthogonal vectors, and emits one audit row per corpus vector") {
    import spark.implicits._
    val corpus = Seq(
      (1L, Array(1f, 0f, 0f)),   // exact eval duplicate
      (2L, Array(0.999f, 0.04f, 0f)), // near-duplicate (cos ~0.9992)
      (3L, Array(0f, 1f, 0f)),   // orthogonal — clean
      (4L, Array(0f, 0f, 1f)))   // orthogonal — clean
      .toDF("vec_id", "embedding")
    val evalSet = Seq((100L, Array(1f, 0f, 0f))).toDF("vec_id", "embedding")
    val out = Dedup.semanticDecontaminate(corpus, evalSet,
        col("vec_id"), col("embedding"), cosThreshold = 0.95).collect()
    assert(out.length == 4)
    val by = out.map(r => r.getLong(0) ->
      (r.getLong(2), r.getBoolean(3))).toMap
    assert(by(1L) == ((1L, true)))
    assert(by(2L) == ((1L, true)))
    assert(by(3L) == ((0L, false)))
    assert(by(4L) == ((0L, false)))
  }

  test("semanticDecontaminate LSH prefilter path matches the exact path's " +
    "audit verdict on the real corpus (r12 verdict #5)") {
    // corpus = the real 64-dim embeddings; eval = every 50th vector, so
    // planted contamination pairs sit at cos 1.0 (always collide — q=1)
    // while background pairs sit at random-gaussian cosine (≈0, never
    // within 0.95 of a hit). The audit verdict (n_eval_hits,
    // contaminated) must be IDENTICAL; max_eval_cos_r must agree on
    // contaminated rows (their true max comes from a candidate pair).
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(col("vec_id"), col("embedding"))
    val evalSet = e.filter(col("vec_id") % 50 === 0)
    def run(lsh: Option[(Int, Int)]) =
      Dedup.semanticDecontaminate(e, evalSet, col("vec_id"),
          col("embedding"), cosThreshold = 0.95, lsh = lsh)
        .collect().map(r => r.getLong(0) ->
          (if (r.isNullAt(1)) None else Some(r.getDouble(1)),
            r.getLong(2), r.getBoolean(3))).toMap
    val exact = run(None)
    val lshed = run(Some((12, 24)))
    assert(exact.keySet == lshed.keySet)
    assert(exact.values.exists(_._3), "fixture must plant contamination")
    exact.foreach { case (id, (mx, hits, flag)) =>
      val (mxL, hitsL, flagL) = lshed(id)
      assert(hitsL == hits, s"vec $id: hits $hitsL != $hits")
      assert(flagL == flag, s"vec $id: flag $flagL != $flag")
      if (flag) assert(mxL == mx, s"vec $id: max $mxL != $mx")
    }
  }

  test("semanticDecontaminateAuto routes on the estimated byte product: " +
    "exact below the threshold, LSH prefilter above it (r18 verdict #2)") {
    // Route detection via the documented OUTPUT contract difference: the
    // exact path reports the true max_eval_cos_r on every row; the LSH
    // path reports NULL for corpus vectors with no bucket collision.
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(col("vec_id"), col("embedding"))
    val evalSet = e.filter(col("vec_id") % 50 === 0)
    def collectAll(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getDouble(1)),
        r.getLong(2), r.getBoolean(3))).toSeq
    val exact = collectAll(Dedup.semanticDecontaminate(e, evalSet,
      col("vec_id"), col("embedding"), cosThreshold = 0.95))
    val lshed = collectAll(Dedup.semanticDecontaminate(e, evalSet,
      col("vec_id"), col("embedding"), cosThreshold = 0.95,
      lsh = Some((12, 24))))
    // sanity: the two paths are distinguishable on this fixture
    assert(exact != lshed, "fixture must distinguish the routes")
    // default threshold (1e13): sf0.001 parquet stats are far below it
    val auto = collectAll(Dedup.semanticDecontaminateAuto(e, evalSet,
      col("vec_id"), col("embedding"), cosThreshold = 0.95))
    assert(auto == exact, "small product must take the exact path")
    // threshold 1 byte²: any known-stats product crosses it
    spark.conf.set("spark.graft.sdecon.autoBytesProduct", "1")
    try {
      val autoBig = collectAll(Dedup.semanticDecontaminateAuto(e, evalSet,
        col("vec_id"), col("embedding"), cosThreshold = 0.95))
      assert(autoBig == lshed, "big product must take the LSH prefilter")
    } finally spark.conf.unset("spark.graft.sdecon.autoBytesProduct")
  }

  test("jaccardPrefixPairs equals brute force on random corpora — the " +
    "prefix lemma's deterministic recall survives the r13 length/size " +
    "prunes (property)") {
    import spark.implicits._
    val word = Gen.oneOf("aa", "bb", "cc", "dd", "ee", "ff")
    val doc = Gen.choose(1, 9).flatMap(n => Gen.listOfN(n, word))
    val corpusGen = Gen.choose(2, 7).flatMap(n => Gen.listOfN(n, doc))
    def shingleSet(ws: List[String]): Set[String] =
      if (ws.size >= 3) ws.sliding(3).map(_.mkString(" ")).toSet
      else Set(ws.mkString(" "))
    checkProp(Prop.forAll(corpusGen) { docsList =>
      val df = docsList.zipWithIndex
        .map { case (ws, i) => (i.toLong, ws.mkString(" ")) }
        .toDF("doc_id", "text")
      val got = Dedup.jaccardPrefixPairs(df, col("doc_id"), col("text"),
          threshold = 0.7)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val sets = docsList.zipWithIndex
        .map { case (ws, i) => i.toLong -> shingleSet(ws) }
      val want = (for {
        (ia, sa) <- sets; (ib, sb) <- sets if ia < ib
        j = (sa & sb).size.toDouble / (sa | sb).size
        if j >= 0.7
      } yield (ia, ib)).toSet
      got == want
    }, minTests = 25)
  }

  test("embeddingNearDupIncremental reports cross-side near-dups only " +
    "(existing-existing pairs never verified)") {
    import spark.implicits._
    // existing holds TWO identical vectors (1, 2) — a within-corpus dup
    // that must NOT appear; incoming holds an identical copy (3) and an
    // orthogonal vector (4)
    val ex = Seq(
      (1L, Array(1f, 0f, 0f, 0f)),
      (2L, Array(1f, 0f, 0f, 0f)),
      (5L, Array(0f, 0f, 1f, 0f))).toDF("vec_id", "embedding")
    val inc = Seq(
      (3L, Array(1f, 0f, 0f, 0f)),
      (4L, Array(0f, 1f, 0f, 0f))).toDF("vec_id", "embedding")
    val out = Dedup.embeddingNearDupIncremental(ex, inc,
        col("vec_id"), col("embedding"), planes = 8, bands = 2,
        cosineThreshold = 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.toSeq == Seq((1L, 3L, 1.0), (2L, 3L, 1.0)))
  }

  test("semanticDecontaminate LSH path: empty eval set yields one " +
    "all-clean audit row per corpus vector (documented shape difference)") {
    import spark.implicits._
    val corpus = Seq((1L, Array(1f, 0f)), (2L, Array(0f, 1f)))
      .toDF("vec_id", "embedding")
    val empty = corpus.filter(col("vec_id") < 0)
    val rows = Dedup.semanticDecontaminate(corpus, empty, col("vec_id"),
        col("embedding"), lsh = Some((4, 2)))
      .collect().map(r => (r.getLong(0), r.isNullAt(1), r.getLong(2),
        r.getBoolean(3)))
    assert(rows.toSeq == Seq((1L, true, 0L, false), (2L, true, 0L, false)))
  }

  test("removeDuplicatedSpans invariants on random corpora: counts add " +
    "up and clean text is an ordered subsequence of the original " +
    "(property)") {
    import spark.implicits._
    val word = Gen.oneOf("a", "b", "c", "d", "e")
    val doc = Gen.choose(0, 8).flatMap(n => Gen.listOfN(n, word))
    val corpus = Gen.choose(1, 6).flatMap(n => Gen.listOfN(n, doc))
    checkProp(Prop.forAll(corpus) { docs =>
      val df = docs.zipWithIndex
        .map { case (ws, i) => (i.toLong, ws.mkString(" ")) }
        .toDF("doc_id", "text")
      val out = graft.ops.Dedup.removeDuplicatedSpans(df, col("doc_id"),
          col("text"), n = 2)
        .collect().map(r => r.getLong(0) ->
          (r.getLong(1), r.getLong(2), r.getString(3))).toMap
      docs.zipWithIndex.forall { case (ws, i) =>
        val (kept, dropped, clean) = out(i.toLong)
        val cleanToks = clean.split(" ").filter(_.nonEmpty).toList
        // counts consistent with the original token count
        kept + dropped == ws.length && kept == cleanToks.length &&
        // clean text is an ordered subsequence of the original tokens
        {
          var rest = ws
          cleanToks.forall { t =>
            val at = rest.indexOf(t)
            if (at < 0) false else { rest = rest.drop(at + 1); true }
          }
        }
      }
    }, minTests = 15)
  }

  test("removeDuplicatedSpans: overlapping duplicated grams union their " +
    "covered positions (no double-drop, no gap)") {
    import spark.implicits._
    // docs 1/2 share the 4-token run "a b c d": grams "a b c" and
    // "b c d" are both duplicated, covering positions 0..3 exactly once
    val docs = Seq(
      (1L, "a b c d x y z"),
      (2L, "q r a b c d")).toDF("doc_id", "text")
    val out = Dedup.removeDuplicatedSpans(docs, col("doc_id"), col("text"),
        n = 3).collect()
    val by = out.map(r => r.getLong(0) ->
      (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(by(1L) == ((3L, 4L, "x y z")))
    assert(by(2L) == ((2L, 4L, "q r")))
  }

  test("fixture gate: every above-threshold embedding pair is an identical " +
    "vector (cos_r == 1.0) — the assumption the LSH-path oracles rest on") {
    // semantic_decontamination_lsh and embedding_neardup_incremental are
    // hash-checked against EXACT-computation oracles; that equality holds
    // because the fixture's only above-threshold pairs are IDENTICAL
    // vectors (eval ⊆ corpus same-id copies; background gaussian cosines
    // sit far below 0.95), so no pair lives in [0.95, 1.0) where an LSH
    // prefilter could probabilistically miss what the exact oracle finds
    // (ADVICE r13). If a future fixture plants non-identical near-dups,
    // this fails loudly instead of those queries flaking.
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(col("vec_id"), col("embedding"))
    val a = e.toDF("a_id", "a_vec")
    val b = e.toDF("b_id", "b_vec")
    val stats = a.crossJoin(b)
      .filter(col("a_id") < col("b_id"))
      .select(round(VectorOps.cosine(col("a_vec"), col("b_vec")), 4)
        .as("cos_r"))
      .agg(max(col("cos_r")).as("max_bg"),
        sum(when(col("cos_r") >= 0.95 && col("cos_r") < 1.0, 1L)
          .otherwise(0L)).as("in_danger_zone"))
      .collect().head
    assert(stats.getLong(1) == 0L,
      s"fixture has distinct-vector pairs in [0.95, 1.0) — the LSH-path " +
        s"oracles would flake (max background cos_r ${stats.getDouble(0)})")
    // margin documentation: the top background cosine should sit well
    // under the 0.95 threshold, not graze it
    assert(stats.getDouble(0) < 0.90,
      s"background cosine ${stats.getDouble(0)} grazes the 0.95 threshold")
  }

  test("Checkpoints.cut is EAGER: the input materializes at cut() time, " +
    "before any downstream action") {
    // the PPJoin pinned streams (and every iterative operator) rely on
    // the cut materializing immediately — a lazy cut would re-run the
    // gram/df-rank front end once per downstream consumer
    val acc = spark.sparkContext.longAccumulator("cut_eager_probe")
    val touch = udf((x: Long) => { acc.add(1L); x })
    val df = spark.range(0, 100, 1, 4).select(touch(col("id")).as("v"))
    graft.ops.Checkpoints.cut(df) // no action taken on the result
    assert(acc.value >= 100L,
      s"cut() returned without materializing (${acc.value} rows touched)")
  }

  test("jaccardPrefixPairs pinned streams sit behind Checkpoints.cut — " +
    "RDD-backed leaves, covered by the reliable-checkpoint switch") {
    import spark.implicits._
    val df = Seq((1L, "aa bb cc dd ee"), (2L, "aa bb cc dd ee"),
      (3L, "ff gg hh ii jj")).toDF("doc_id", "text")
    def rddLeaves(out: org.apache.spark.sql.DataFrame): Int =
      out.queryExecution.analyzed.collectLeaves()
        .count(_.getClass.getSimpleName == "LogicalRDD")
    // the shingle stream `s` (read twice by the verify joins) and the
    // prefix-bucket stream each ride a cut — the post-cut plan's leaves
    // are LogicalRDDs, so
    // spark.graft.checkpoint.dir makes BOTH reliable on a real cluster
    // (r15 verdict #4: a bare localCheckpoint bypassed that switch)
    val out = Dedup.jaccardPrefixPairs(df, col("doc_id"), col("text"))
    assert(rddLeaves(out) >= 3,
      s"expected >= 3 LogicalRDD leaves (s twice + prefix), got " +
        s"${rddLeaves(out)} in:\n${out.queryExecution.analyzed}")
    val got = out.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 2L)))
  }
}
