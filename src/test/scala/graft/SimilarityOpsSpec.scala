package graft

import org.apache.spark.sql.functions._
import graft.ops.{SimilarityOps, TextOps}

/** X30-X32 property tests (SURVEY §5.2 layer 3): LSH recall vs exact
  * ground truth, simhash locality, dedup semantics, cosine vs brute force. */
class SimilarityOpsSpec extends SparkSpec {

  import spark.implicits._

  test("X30: exactDedup keeps one row per content, smallest id wins") {
    val df = Seq((5L, "alpha beta"), (2L, "alpha  BETA"), (9L, "gamma"))
      .toDF("doc_id", "text")
    val out = SimilarityOps.exactDedup("doc_id", "text")(df)
      .orderBy("doc_id").collect()
    // normalization: case + whitespace → first two rows collapse to id 2
    assert(out.map(_.getLong(0)).toSeq === Seq(2L, 9L))
    assert(out.head.getLong(2) === 2L) // n_dups
  }

  test("X31: minhash LSH finds exactly the exact-Jaccard pairs (τ=0.5)") {
    val exact = SparkEntry.queries("x31_ngram_jaccard")(spark, sfDir)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val lsh = SimilarityOps.minhashNearDups("doc_id", "text")(env.documents)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty, "ground truth should contain planted near-dups")
    assert(lsh === exact)
  }

  test("X120: ngramNovelty attributes first occurrence, copies score zero") {
    val base = "one two three four five six seven eight"   // 4 distinct 5-grams
    val df = Seq(
      (1L, base),                      // introduces all its grams
      (2L, base),                      // verbatim copy → 0 novel
      (3L, "totally fresh words appear here nine ten"),  // all novel
      (4L, "one two three four five unique tail here"),  // shares gram 1 of doc 1
      (5L, "too short to gram")        // < 5 tokens → absent
    ).toDF("doc_id", "text")
    val out = SimilarityOps.ngramNovelty(df, "doc_id", "text", 5)
      .orderBy("doc_id").collect()
    assert(out.map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L, 4L))
    val byId = out.map(r => r.getLong(0) ->
      (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(byId(1L) === ((4L, 4L, 1.0)))   // owner of everything it says
    assert(byId(2L) === ((4L, 0L, 0.0)))   // verbatim copy: zero novelty
    assert(byId(3L) === ((3L, 3L, 1.0)))
    // doc 4: 4 grams, the first ("one two three four five") owned by doc 1
    assert(byId(4L) === ((4L, 3L, 0.75)))
  }

  test("X120: repeated gram inside one doc counts once (distinct shingles)") {
    val df = Seq(
      (1L, "a b c d e a b c d e"),   // gram "a b c d e" appears twice
      (2L, "a b c d e")
    ).toDF("doc_id", "text")
    val out = SimilarityOps.ngramNovelty(df, "doc_id", "text", 5)
      .orderBy("doc_id").collect()
    // doc 1 has 6 window starts; "a b c d e" repeats → 5 distinct grams
    assert(out(0).getLong(1) === 5L)
    // doc 2's single gram is owned by doc 1
    assert(out(1).getLong(2) === 0L)
  }

  test("X129: leakage-safe split — near-dup pairs never straddle splits, " +
      "fractions land near the bounds, reruns are identical") {
    val edges = SimilarityOps
      .ngramJaccardPairs(env.documents, "doc_id", "text", maxShingleDf = 256)
      .select($"id_a".as("a"), $"id_b".as("b"))
    val cuts = Seq(("train", 0.8), ("val", 0.9), ("test", 1.0))
    val split = SimilarityOps.leakageSafeSplit(env.documents, "doc_id",
      edges, cuts)
    val byId = split.select("doc_id", "split").as[(Long, String)]
      .collect().toMap
    // the guarantee: both ends of every near-dup edge share a split
    val pairs = edges.as[(Long, Long)].collect()
    assert(pairs.nonEmpty)
    pairs.foreach { case (a, b) =>
      assert(byId(a) === byId(b), s"pair ($a,$b) straddles splits")
    }
    // every doc assigned exactly once; fractions within binomial slop
    assert(byId.size === env.documents.count())
    val n = byId.size.toDouble
    val train = byId.values.count(_ == "train") / n
    assert(math.abs(train - 0.8) < 0.06, s"train fraction $train")
    assert(byId.values.count(_ == "val") / n < 0.2)
    // determinism: a second run produces the identical assignment
    val again = SimilarityOps.leakageSafeSplit(env.documents, "doc_id",
        edges, cuts)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    assert(again === byId)
  }

  test("X136: curation pipeline — dispositions partition the corpus, " +
      "split only for kept docs, drop reasons rank exact > near > quality") {
    val out = SparkEntry.queries("x136_curation_pipeline")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getString(1),
        Option(r.getString(2))))
    assert(out.length === env.documents.count())
    val byDisp = out.groupBy(_._2).view.mapValues(_.length).toMap
    assert(byDisp.keySet.subsetOf(
      Set("kept", "exact_dup", "near_dup", "low_quality")))
    assert(byDisp("kept") > 0 && byDisp.getOrElse("near_dup", 0) > 0,
      s"expected kept + near-dup rows on this corpus, got $byDisp")
    // split present iff kept
    out.foreach { case (id, d, s) =>
      assert((d == "kept") === s.isDefined, s"doc $id: $d with split $s")
    }
    // exact dups outrank near_dup: every fingerprint group's non-keeper
    // members must be labeled exact_dup (never near_dup/low_quality)
    val fp = env.documents.select($"doc_id",
        TextOps.fingerprint(col("text")).as("h"))
      .as[(Long, String)].collect()
    val dispOf = out.map(t => t._1 -> t._2).toMap
    // (this corpus may contain no verbatim copies — the rule is then
    // vacuous here and remains pinned by the oracle CASE order)
    val dupGroups = fp.groupBy(_._2).values.filter(_.length > 1)
    dupGroups.foreach { grp =>
      val keeper = grp.map(_._1).min
      grp.map(_._1).filter(_ != keeper).foreach { id =>
        assert(dispOf(id) === "exact_dup", s"doc $id in group of $keeper")
      }
    }
  }

  test("X129: malformed cuts are refused") {
    val e = Seq((1L, 2L)).toDF("a", "b")
    val d = Seq((1L, "x"), (2L, "y")).toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      SimilarityOps.leakageSafeSplit(d, "doc_id", e, Seq(("train", 0.8)))
    }
    intercept[IllegalArgumentException] {
      SimilarityOps.leakageSafeSplit(d, "doc_id", e,
        Seq(("a", 0.9), ("b", 0.5), ("c", 1.0)))
    }
  }

  test("X123: prefix-filtered pairs ≡ uncapped inverted-index pairs, and " +
      "stay exact under ubiquitous boilerplate with NO cap knob") {
    val base = env.documents.select("doc_id", "text")
    val a = SimilarityOps.prefixFilterJaccardPairs(base, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val b = SimilarityOps.ngramJaccardPairs(base, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(a.nonEmpty && a === b)
    // every doc gains the SAME trailing sentence: one shingle family with
    // df = |corpus|. The df-capped path needs its cap to stay tractable;
    // the prefix path is exact by construction — boilerplate shingles
    // sort to the tails and the pair set still matches the uncapped
    // inverted-index run on the SAME boilered corpus.
    val boiler = base.withColumn("text",
      concat(col("text"), lit(" all rights reserved worldwide inc")))
    val pa = SimilarityOps.prefixFilterJaccardPairs(boiler, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val pb = SimilarityOps.ngramJaccardPairs(boiler, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(pa === pb)
  }

  test("X123: exact-boundary pair at a non-dyadic threshold survives the " +
      "prefix and size bounds (float z·t arithmetic would drop it)") {
    // za=14 ⊂ zb=20, J = 14/20 = 0.7 exactly. With t=0.7 the containing
    // doc's prefix must keep position 7 (20 − ⌈14⌉ + 1 — its 6 unique
    // shingles sort first, the rarest shared one lands exactly there);
    // float ceil(20·0.7) = ceil(14.000000000000002) = 15 shrinks the
    // prefix to the unique slots only, and the same float product fails
    // the zb·t ≤ za size filter — either error silently loses the pair.
    val a = (1 to 16).map(i => s"w$i").mkString(" ")
    val b = a + " " + (1 to 6).map(i => s"u$i").mkString(" ")
    val df = Seq((1L, a), (2L, b)).toDF("doc_id", "text")
    val pairs = SimilarityOps.prefixFilterJaccardPairs(df, "doc_id", "text",
        threshold = 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(pairs === Set((1L, 2L, 0.7)))
  }

  test("X123: hand case — planted near-dup found, sub-threshold pair not") {
    val df = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta iota"),   // J ≈ 0.71
      (3L, "totally different words in this one here now"),
      (4L, "alpha beta gamma nothing else shared here right") // J < 0.5 vs 1
    ).toDF("doc_id", "text")
    val pairs = SimilarityOps.prefixFilterJaccardPairs(df, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((1L, 2L)))
  }

  test("X120c: probe ≡ from-scratch novelty on batch ids; append is " +
      "idempotent and append-only; non-monotone ids are rejected") {
    val dir = java.nio.file.Files.createTempDirectory("novelty_idx_")
    val ss = new graft.sources.SnapshotStore(spark, dir.toString)
    val docs = env.documents
    // withhold id 250 from the build: the monotone check below needs an
    // UNREGISTERED id under the high-water mark
    val corpus = docs.filter($"doc_id" < 300 && $"doc_id" =!= 250)
    val batch = docs.filter($"doc_id" >= 300 && $"doc_id" < 400)
    try {
      SimilarityOps.buildNoveltyIndexVersioned(ss, "nvspec", corpus,
        "doc_id", "text", 5)
      val probed = SimilarityOps.probeNoveltyIndexVersioned(ss, "nvspec",
        batch, "doc_id", "text")
      val want = SimilarityOps.ngramNovelty(
          corpus.unionByName(batch), "doc_id", "text", 5)
        .filter($"doc_id" >= 300)
      assert(probed.count() > 0)
      assert(probed.exceptAll(want).count() === 0)
      assert(want.exceptAll(probed).count() === 0)
      // commit, then re-offering the same batch adds nothing (idempotent)
      def census() = ss.readTable("nvspec", "grams")
      val censusBefore = census().count()
      assert(SimilarityOps.appendNoveltyBatchVersioned(ss, "nvspec", batch,
        "doc_id", "text") === batch.count())
      val censusAfter = census().count()
      assert(censusAfter > censusBefore)
      assert(SimilarityOps.appendNoveltyBatchVersioned(ss, "nvspec", batch,
        "doc_id", "text") === 0L)
      assert(census().count() === censusAfter)
      // owners in the census never change on commit (append-only)
      val owned = census().groupBy("h").count().filter($"count" > 1).count()
      assert(owned === 0L, "census must stay one owner per gram")
      // an UNREGISTERED id below the high-water mark must be refused — it
      // would deserve ownership the census already handed out
      val e = intercept[IllegalArgumentException] {
        SimilarityOps.appendNoveltyBatchVersioned(ss, "nvspec",
          docs.filter($"doc_id" === 250), "doc_id", "text")
      }
      assert(e.getMessage.contains("non-monotone"))
    } finally ss.dropCatalogTables("nvspec")
  }

  test("X30c: simhash distance separates near-dups from random pairs") {
    val sims = SimilarityOps.simhash("doc_id", "text")(env.documents)
      .as[(Long, Long)].collect().toMap
    val nearDups = SparkEntry.queries("x31_ngram_jaccard")(spark, sfDir)
      .select("id_a", "id_b").as[(Long, Long)].collect()
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    val dupDists = nearDups.map { case (a, b) => ham(sims(a), sims(b)) }
    val rnd = new scala.util.Random(7)
    val ids = sims.keys.toArray
    val randDists = (1 to 200).map { _ =>
      val a = ids(rnd.nextInt(ids.length)); val b = ids(rnd.nextInt(ids.length))
      ham(sims(a), sims(b))
    }.filter(_ > 0)
    assert(dupDists.max < randDists.sum.toDouble / randDists.size,
      s"near-dup hamming ${dupDists.toSeq} should sit below random mean")
  }

  test("X32: cosineTopK matches a driver-side brute force for q_id=0") {
    val vecs = env.embeddings
      .select($"vec_id", $"embedding").as[(Long, Array[Float])]
      .collect().toMap.map { case (k, v) => k -> v.map(_.toDouble) }
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      math.rint(dot / math.sqrt(a.map(x => x * x).sum * b.map(x => x * x).sum) * 1e6) / 1e6
    }
    val q0 = vecs(0L)
    val expected = vecs.toSeq.filter(_._1 != 0L)
      .map { case (id, v) => (id, cos(q0, v)) }
      .sortBy { case (id, c) => (-c, id) }.take(10).map(_._1)
    val got = SparkEntry.queries("x32_cosine_topk")(spark, sfDir)
      .filter($"q_id" === 0).orderBy("rn")
      .select("c_id").as[Long].collect().toSeq
    assert(got === expected)
  }

  test("X32 IVF: KMeans-cell probing reaches >= 0.6 recall vs exact") {
    val emb = env.embeddings.withColumn("e",
      transform($"embedding", v => v.cast("double")))
    val q = emb.filter($"vec_id" < 5).select($"vec_id".as("q_id"), $"e".as("qe"))
    val c = emb.select($"vec_id".as("c_id"), $"e".as("ce"))
    val exact = SimilarityOps.cosineTopK(q, c, 10)
      .select("q_id", "c_id").as[(Long, Long)].collect().toSet
    val ivf = SimilarityOps.ivfCosineTopK(q, c, 10)
      .select("q_id", "c_id").as[(Long, Long)].collect().toSet
    val recall = (exact intersect ivf).size.toDouble / exact.size
    assert(recall >= 0.6, s"IVF recall $recall below 0.6")
    // determinism: same seed → same result
    val ivf2 = SimilarityOps.ivfCosineTopK(q, c, 10)
      .select("q_id", "c_id").as[(Long, Long)].collect().toSet
    assert(ivf === ivf2)
  }

  test("X35d: full-corpus IVF kNN join reaches >= 0.6 recall vs brute force") {
    // both sides = the whole corpus (the x73_ivf_knn_join shape) — recall
    // measured over every query's top-5, not a handful of probes
    val emb = env.embeddings.withColumn("e",
      transform($"embedding", v => v.cast("double")))
    val q = emb.select($"vec_id".as("q_id"), $"e".as("qe"))
    val c = emb.select($"vec_id".as("c_id"), $"e".as("ce"))
    val exact = SimilarityOps.cosineTopK(q, c, 5)
      .select("q_id", "c_id").as[(Long, Long)].collect().toSet
    val ivf = SimilarityOps.ivfCosineTopK(q, c, 5, nLists = 16, nProbe = 6)
      .select("q_id", "c_id").as[(Long, Long)].collect().toSet
    val recall = (exact intersect ivf).size.toDouble / exact.size
    assert(recall >= 0.6, s"kNN-join recall $recall below 0.6")
    // every query must come back with a full (or cell-limited) top-5
    val perQuery = ivf.groupBy(_._1).map(_._2.size)
    assert(perQuery.max <= 5 && ivf.map(_._1).size == q.count())
  }

  test("X32 ANN: LSH-bucketed top-k reaches >= 0.7 recall vs exact") {
    val emb = env.embeddings.withColumn("e",
      transform($"embedding", v => v.cast("double")))
    val q = emb.filter($"vec_id" < 5).select($"vec_id".as("q_id"), $"e".as("qe"))
    val c = emb.select($"vec_id".as("c_id"), $"e".as("ce"))
    val exact = SimilarityOps.cosineTopK(q, c, 10)
      .select("q_id", "c_id").as[(Long, Long)].collect().toSet
    val ann = SimilarityOps.annCosineTopK(q, c, 10)
      .select("q_id", "c_id").as[(Long, Long)].collect().toSet
    val recall = (exact intersect ann).size.toDouble / exact.size
    assert(recall >= 0.7, s"ANN recall $recall below 0.7")
  }

  test("connectedComponents: transitive closure, min-id labels, long chains converge") {
    // three components: a triangle-free path {1,2,3}, a pair {10,11}, and
    // a 12-node chain {20..31} whose diameter forces multiple propagation
    // rounds (label 20 must travel 11 hops)
    val edges = (Seq((1L, 2L), (2L, 3L), (10L, 11L)) ++
      (20L until 31L).map(i => (i, i + 1)))
      .toDF("a", "b")
    val comps = SimilarityOps.connectedComponents(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(1L, 2L, 3L).forall(comps(_) == 1L))
    assert(Seq(10L, 11L).forall(comps(_) == 10L))
    assert((20L to 31L).forall(comps(_) == 20L))
    assert(comps.size == 17)
  }

  test("minhash-LSH clusters equal exact-Jaccard clusters (x65 ≡ x62)") {
    val docs = env.documents
    def clusters(edges: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      SimilarityOps.connectedComponents(edges)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = clusters(SimilarityOps.ngramJaccardPairs(docs, "doc_id", "text")
      .select(col("id_a").as("a"), col("id_b").as("b")))
    val lsh = clusters(SimilarityOps.minhashNearDups("doc_id", "text")(docs)
      .select(col("id_a").as("a"), col("id_b").as("b")))
    assert(lsh == exact)
  }

  test("hot-shingle guard: a ubiquitous boilerplate shingle stops " +
    "generating O(n²) candidates; rare-shingle near-dups still found") {
    import org.apache.spark.sql.functions.xxhash64
    // 40 docs, each ending with the same boilerplate sentence (one shared
    // 3-gram shingle across ALL docs); docs 0 and 1 additionally share a
    // rare prefix (true near-dups)
    val docs = (0 until 40).map { i =>
      val unique =
        if (i <= 1) s"alpha beta gamma delta epsilon zeta mark$i"
        else s"u${i}a u${i}b u${i}c u${i}d u${i}e u${i}f u${i}g"
      (i.toLong, s"$unique all rights reserved")
    }.toDF("doc_id", "text")
    val sh = graft.ops.TextOps.explodeShingles(docs, "doc_id", "text", 3)
      .select(col("doc_id"), xxhash64(col("s")).as("h"))
    // uncapped: the boilerplate shingle alone pairs every two docs
    val uncapped = SimilarityOps.shinglePairStats(sh, Int.MaxValue).count()
    assert(uncapped >= 40L * 39 / 2)
    // capped below the boilerplate's df: only rare-shingle pairs remain
    val capped = SimilarityOps.shinglePairStats(sh, 10)
    assert(capped.count() === 1L)
    assert(capped.select("id_a", "id_b").as[(Long, Long)].collect().toSeq
      === Seq((0L, 1L)))
    // ...and the surviving pair's intersection still counts the HOT
    // boilerplate shingle (4 rare prefix shingles + 1 hot = 5)
    assert(capped.select("i").as[Long].head() === 5L)
    // end-to-end: the near-dup pair survives, scored on FULL sets
    // (jaccard counts the boilerplate shingles the candidate join skipped)
    val pairs = SimilarityOps
      .ngramJaccardPairs(docs, "doc_id", "text", threshold = 0.3,
        maxShingleDf = 10)
      .as[(Long, Long, Double)].collect()
    assert(pairs.map(p => (p._1, p._2)).toSeq === Seq((0L, 1L)))
    // docs 0/1 have 8 shingles each and share 5: four rare prefix
    // shingles + the hot boilerplate one. Full-set scoring gives
    // round(5/(8+8-5), 6); rare-only scoring would give 4/12 = 0.333333,
    // so the exact value proves the cap never leaks into the score.
    assert(pairs.head._3 === 0.454545)
  }

  test("LSH degenerate-bucket guard: a bucket of identical signatures " +
    "stops emitting n² candidates; ordinary near-dups still found") {
    // 30 byte-identical docs (every band bucket holds all 30) + one
    // ordinary near-dup pair with distinct text
    val docs = ((0 until 30).map(i =>
        (i.toLong, "the same boilerplate text repeated verbatim for all")) ++
      Seq((100L, "alpha beta gamma delta epsilon zeta eta theta"),
          (101L, "alpha beta gamma delta epsilon zeta eta iota")))
      .toDF("doc_id", "text")
    // capped below the clone-bucket size: the 30-clone family emits NO
    // pairs (exact dedup's job), the near-dup pair survives via its own
    // uncrowded buckets
    val capped = SimilarityOps.minhashNearDups("doc_id", "text",
        maxBucket = 10)(docs)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(capped === Set((100L, 101L)))
    // uncapped contrast: the clone family floods 30·29/2 pairs
    val uncapped = SimilarityOps.minhashNearDups("doc_id", "text",
        maxBucket = Int.MaxValue)(docs)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(uncapped.size === 30 * 29 / 2 + 1)
  }

  test("X30c: simhashNearDups finds exactly the brute-force pairs (pigeonhole)") {
    val maxDist = 6
    val sims = SimilarityOps.simhash("doc_id", "text")(env.documents)
      .as[(Long, Long)].collect()
    val expected = (for {
      (a, sa) <- sims; (b, sb) <- sims if a < b
      if java.lang.Long.bitCount(sa ^ sb) <= maxDist
    } yield (a, b)).toSet
    val got = SimilarityOps.simhashNearDups("doc_id", "text", maxDist)(env.documents)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got === expected)
    assert(expected.nonEmpty, "corpus should contain close simhash pairs")
  }

  test("VecCosine: codegen and interpreted paths agree; nulls propagate") {
    graft.functions.VecCosine.register(spark)
    // whole-stage codegen path
    val c = spark.sql(
      "SELECT vec_cosine(array(1.0D,2.0D,3.0D), array(3.0D,2.0D,1.0D)) AS c")
      .as[Double].head()
    val exp = 10.0 / math.sqrt(14.0 * 14.0)
    assert(math.abs(c - exp) < 1e-12)
    // interpreted path (direct Expression.eval, no codegen)
    val viaEval = graft.functions.VecCosine(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        Array(1.0, 2.0, 3.0),
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.DoubleType)),
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        Array(3.0, 2.0, 1.0),
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.DoubleType)))
      .eval(null).asInstanceOf[Double]
    assert(math.abs(viaEval - exp) < 1e-12)
    assert(spark.sql("SELECT vec_cosine(NULL, array(1.0D)) AS c")
      .head().isNullAt(0))
    // mismatched lengths -> null (not a truncated score)
    assert(spark.sql(
      "SELECT vec_cosine(array(1.0D,2.0D), array(1.0D,2.0D,9.0D)) AS c")
      .head().isNullAt(0))
    // null element -> null
    assert(spark.sql(
      "SELECT vec_cosine(array(1.0D, CAST(NULL AS DOUBLE)), array(1.0D,2.0D)) AS c")
      .head().isNullAt(0))
    // non-double arrays -> clean analysis error, not a runtime crash
    val err = intercept[Exception] {
      spark.sql("SELECT vec_cosine(array(1,2,3), array(3,2,1))").collect()
    }
    assert(err.getMessage.contains("vec_cosine requires"))
  }

  test("VecCellArgmax: codegen and interpreted paths agree; argmax, " +
    "tie-to-lowest, and degenerate inputs match the HOF formulation") {
    import graft.functions.{VecCellArgmax, VecCosine}
    VecCellArgmax.register(spark)
    VecCosine.register(spark)
    val cents = "array(array(1.0D,0.0D), array(0.0D,1.0D), " +
      "array(-1.0D,0.0D))"
    // codegen path: 45° vector ties cells 0 and 1 exactly -> lowest wins
    assert(spark.sql(
      s"SELECT vec_cell_argmax(array(1.0D,1.0D), $cents) AS i")
      .as[Int].head() === 0)
    assert(spark.sql(
      s"SELECT vec_cell_argmax(array(-3.0D,0.1D), $cents) AS i")
      .as[Int].head() === 2)
    // interpreted path agrees
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    val viaEval = VecCellArgmax(
      Literal.create(Array(-3.0, 0.1), ArrayType(DoubleType)),
      Literal.create(Array(Array(1.0, 0.0), Array(0.0, 1.0),
        Array(-1.0, 0.0)), ArrayType(ArrayType(DoubleType))))
      .eval(null)
    assert(viaEval === 2)
    // result agrees with the per-centroid vec_cosine argmax on real data
    val emb = env.embeddings.limit(50)
      .select($"vec_id", transform($"embedding", x => x.cast("double")).as("ce"))
    val centroids = Seq.tabulate(4)(i =>
      Seq.tabulate(64)(j => if ((i + j) % 3 == 0) 1.0 else -0.5))
    val centLit = typedLit(centroids)
    val both = emb.select($"vec_id",
        VecCellArgmax.vec_cell_argmax($"ce", centLit).as("fused"),
        array_position(transform(centLit,
            c => VecCosine.vec_cosine($"ce", c)),
          array_max(transform(centLit,
            c => VecCosine.vec_cosine($"ce", c)))).cast("int").as("hof"))
      .as[(Long, Int, Int)].collect()
    both.foreach { case (id, fused, hof) =>
      assert(fused + 1 === hof, s"vec $id: fused $fused vs hof ${hof - 1}")
    }
    // zero-norm vector / zero-norm-only centroids / empty matrix -> null
    assert(spark.sql(
      s"SELECT vec_cell_argmax(array(0.0D,0.0D), $cents) AS i")
      .head().isNullAt(0))
    assert(spark.sql(
      "SELECT vec_cell_argmax(array(1.0D), array(array(0.0D))) AS i")
      .head().isNullAt(0))
    // mismatched-dim centroids are skipped, not scored
    assert(spark.sql(
      "SELECT vec_cell_argmax(array(1.0D,1.0D), " +
        "array(array(1.0D), array(0.0D,1.0D))) AS i")
      .as[Int].head() === 1)
    // non-conforming types -> clean analysis error
    val err = intercept[Exception] {
      spark.sql("SELECT vec_cell_argmax(array(1,2), array(array(1,2)))")
        .collect()
    }
    assert(err.getMessage.contains("vec_cell_argmax requires"))
  }

  test("X33: shingles/tokens behave on edge cases") {
    val df = Seq((1L, "a b"), (2L, "one two three four")).toDF("doc_id", "text")
    val sh = df.select($"doc_id", TextOps.shingles($"text", 3).as("s"))
      .as[(Long, Seq[String])].collect().toMap
    assert(sh(1L).isEmpty)                       // shorter than n → empty
    assert(sh(2L) === Seq("one two three", "two three four"))
  }

  test("X32d: persisted IVF index — build once, probe many, bucketed " +
    "index side, results match the in-session path") {
    val dir = java.nio.file.Files.createTempDirectory("ivf_store").toString
    val ss = new graft.sources.SnapshotStore(spark, dir)
    val emb = env.embeddings.withColumn("e",
      transform($"embedding", v => v.cast("double")))
    val q = emb.filter($"vec_id" < 5).select($"vec_id".as("q_id"), $"e".as("qe"))
    val c = emb.select($"vec_id".as("c_id"), $"e".as("ce"))
    try {
      SimilarityOps.buildIvfIndexVersioned(ss, "ivfspec", c)
      val probe1 = SimilarityOps.probeIvfIndexVersioned(ss, "ivfspec", q,
        k = 10)
      // the index side must come in through the catalog with its bucket
      // spec (the co-located probe-join layout), not as bare parquet
      val plan = probe1.queryExecution.executedPlan.toString
      assert(plan.contains("Bucketed: true"),
        s"probe must scan the bucketed index:\n$plan")
      val r1 = probe1.select("q_id", "c_id").as[(Long, Long)].collect().toSet
      // probe-many: a second probe reuses the same persisted index (no
      // refit — same cells, same result)
      val r2 = SimilarityOps.probeIvfIndexVersioned(ss, "ivfspec", q, k = 10)
        .select("q_id", "c_id").as[(Long, Long)].collect().toSet
      assert(r1 === r2)
      // and the persisted path agrees with the in-session path end to end
      val inSession = SimilarityOps.ivfCosineTopK(q, c, 10)
        .select("q_id", "c_id").as[(Long, Long)].collect().toSet
      assert(r1 === inSession)
    } finally ss.dropCatalogTables("ivfspec")
  }

  test("X32f: incremental IVF — append assigns with the shared plan " +
    "(parity with from-scratch), is idempotent, and new vectors probe") {
    val dir = java.nio.file.Files.createTempDirectory("ivf_inc").toString
    val ss = new graft.sources.SnapshotStore(spark, dir)
    val emb = env.embeddings.withColumn("e",
      transform($"embedding", v => v.cast("double")))
    val corpus = emb.filter($"vec_id" % 5 =!= 0)
      .select($"vec_id".as("c_id"), $"e".as("ce"))
    val batch = emb.filter($"vec_id" % 5 === 0)
      .select($"vec_id".as("c_id"), $"e".as("ce"))
    val total = emb.count()
    def cells() = ss.readTable("ivfinc", "assigned").select("c_id", "cell")
      .as[(Long, Int)].collect().toMap
    try {
      SimilarityOps.buildIvfIndexVersioned(ss, "ivfinc", corpus)
      val preCells = cells()
      val nBatch = batch.count()
      val n1 = SimilarityOps.appendIvfBatchVersioned(ss, "ivfinc", batch)
      assert(n1 === nBatch,
        s"append must ingest the $nBatch-vector batch, got $n1")
      // idempotent: re-ingesting the same batch adds nothing
      val n2 = SimilarityOps.appendIvfBatchVersioned(ss, "ivfinc", batch)
      assert(n2 === 0L, s"re-append must be a no-op, got $n2")
      assert(ss.readTable("ivfinc", "assigned").count() === total,
        s"index should hold all $total vectors")
      val after = cells()
      // corpus assignments untouched by the append
      preCells.foreach { case (id, cell) => assert(after(id) === cell) }
      // batch assignments ≡ the shared plan applied from scratch with the
      // SAME centroids (parity by construction — one code path, raw input)
      val reference = SimilarityOps.assignCells(
        batch, ss.readTable("ivfinc", "centroids"))
        .select("c_id", "cell").as[(Long, Int)].collect().toMap
      reference.foreach { case (id, cell) => assert(after(id) === cell) }
      // appended vectors are retrievable: probing WITH batch vectors as
      // queries reaches candidates (and the index side stays bucketed)
      val probe = SimilarityOps.probeIvfIndexVersioned(ss, "ivfinc",
        batch.limit(5).select($"c_id".as("q_id"), $"ce".as("qe")), k = 5)
      assert(probe.queryExecution.executedPlan.toString
        .contains("Bucketed: true"))
      assert(probe.count() > 0)
    } finally ss.dropCatalogTables("ivfinc")
  }

  test("X62c: componentsRemap — the small reduced graph takes the " +
      "driver-local union-find branch with labels IDENTICAL to the " +
      "distributed min-label loop; above the limit the distributed " +
      "path runs") {
    // chain + pair + self-loop + star: exercises multi-hop merging,
    // min-root attachment order, and the self-loop no-op
    val edges = Seq((9L, 5L), (5L, 3L), (20L, 21L), (7L, 7L),
      (40L, 41L), (42L, 40L), (43L, 40L)).toDF("a", "b")
    val (local, tookLocal) = SimilarityOps.componentsRemap(edges)
    assert(tookLocal, "a 7-edge reduced graph must go driver-side")
    val (dist, tookLocal2) =
      SimilarityOps.componentsRemap(edges, localEdgeLimit = 0)
    assert(!tookLocal2, "limit 0 must force the distributed path")
    def labels(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long)].collect().toMap
    assert(labels(local) === labels(dist))
    assert(labels(local) === Map(9L -> 3L, 5L -> 3L, 3L -> 3L,
      20L -> 20L, 21L -> 20L, 7L -> 7L,
      40L -> 40L, 41L -> 40L, 42L -> 40L, 43L -> 40L))
    // empty reduced graph: both paths yield the empty remap
    val none = Seq.empty[(Long, Long)].toDF("a", "b")
    assert(SimilarityOps.componentsRemap(none)._1.count() === 0L)
  }

  test("X62c: incremental components — merges across batches converge to " +
    "from-scratch labels; a fresh node below the old min relabels the " +
    "whole merged component; retry appends nothing; appends are " +
    "O(batch) rows; compaction folds without changing labels") {
    val dir = java.nio.file.Files.createTempDirectory("cc_store").toString
    val ss = new graft.sources.SnapshotStore(spark, dir)
    def state(): Map[Long, Long] =
      SimilarityOps.readComponentsStateVersioned(ss, "cc")
        .as[(Long, Long)].collect().toMap
    def comps() = ss.readTable("cc", "comps")
    try {
      // base graph: {5,9}, {20,21}, {30,31} — labels 5, 20, 30
      SimilarityOps.buildComponentsStateVersioned(ss, "cc",
        Seq((5L, 9L), (20L, 21L), (30L, 31L)).toDF("a", "b"))
      assert(state() === Map(5L -> 5L, 9L -> 5L, 20L -> 20L, 21L -> 20L,
        30L -> 30L, 31L -> 30L))
      // batch 1: fresh node 3 bridges INTO {5,9} via 9, and {20,21}
      // merges with {30,31} via a 21–30 edge: new labels 3 and 20 — the
      // fresh id below the old min must win, exactly as a from-scratch
      // run would
      val w1 = SimilarityOps.appendComponentEdgesVersioned(ss, "cc",
        Seq((3L, 9L), (21L, 30L)).toDF("a", "b"))
      val expect1 = Map(3L -> 3L, 5L -> 3L, 9L -> 3L,
        20L -> 20L, 21L -> 20L, 30L -> 20L, 31L -> 20L)
      assert(state() === expect1)
      assert(w1 === 5L,
        s"5,9 relabeled + 1 fresh + 30,31 relabeled = 5, got $w1")
      // merge-on-read: the append wrote ONLY those 5 rows (6 base + 5)
      assert(comps().count() === 11L)
      // parity with from-scratch over the union of all edges
      val scratch = SimilarityOps.connectedComponents(
        Seq((5L, 9L), (20L, 21L), (30L, 31L), (3L, 9L), (21L, 30L))
          .toDF("a", "b"))
      assert(scratch.as[(Long, Long)].collect().toMap === expect1)
      graft.ops.RelOps.releaseCheckpoint(scratch)
      // exact retry: endpoints already share labels ⇒ reduced graph
      // empty, nothing appended
      assert(SimilarityOps.appendComponentEdgesVersioned(ss, "cc",
        Seq((3L, 9L), (21L, 30L)).toDF("a", "b")) === 0L)
      assert(comps().count() === 11L)
      // a disjoint fresh pair appends ONLY its own rows
      assert(SimilarityOps.appendComponentEdgesVersioned(ss, "cc",
        Seq((100L, 101L)).toDF("a", "b")) === 2L)
      assert(state()(100L) === 100L && state()(101L) === 100L)
      assert(state().size === 9)
      // a self-loop-only node enters as a singleton, exactly as
      // connectedComponents would keep it in a from-scratch run
      assert(SimilarityOps.appendComponentEdgesVersioned(ss, "cc",
        Seq((200L, 200L)).toDF("a", "b")) === 1L)
      assert(state()(200L) === 200L)
      assert(state().size === 10)
      // compaction: one row per id, reconciled labels unchanged
      val before = state()
      SimilarityOps.compactComponentsStateVersioned(ss, "cc")
      assert(comps().count() === 10L)
      assert(state() === before)
      // plan pin for the append's label lookup — the PRODUCTION helper
      // (stateLabelProbe, the exact plan appendComponentEdgesVersioned
      // executes): with auto-broadcast OFF, the HINTED batch side still
      // builds — the state scan never sort-merges (a hint on the LEFT of
      // an outer join is silently ignored by Spark; the semi-probe shape
      // keeps it true)
      val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val p = SimilarityOps.stateLabelProbe(comps(),
            Seq(5L, 100L).toDF("id"))
          .queryExecution.executedPlan.toString
        assert(p.contains("BroadcastHashJoin") &&
          !p.contains("SortMergeJoin"),
          s"state semi-probe must broadcast the batch side:\n$p")
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
    } finally ss.dropCatalogTables("cc")
  }

  test("X62d: VERSIONED components state — merges ≡ from-scratch at " +
    "every step; retry commits NOTHING (no version); a concurrent claim " +
    "fails the CAS retryably; compaction folds as a new version with " +
    "labels unchanged; every version time-travels; the reconciliation " +
    "aggregates bucket-locally (no exchange)") {
    val ss = new graft.sources.SnapshotStore(spark,
      java.nio.file.Files.createTempDirectory("cc_ver").toString)
    def state(v: Option[Long] = None): Map[Long, Long] =
      SimilarityOps.readComponentsStateVersioned(ss, "cc", v)
        .as[(Long, Long)].collect().toMap
    try {
      // base graph: {5,9}, {20,21}, {30,31} — labels 5, 20, 30 (v1)
      SimilarityOps.buildComponentsStateVersioned(ss, "cc",
        Seq((5L, 9L), (20L, 21L), (30L, 31L)).toDF("a", "b"))
      assert(ss.currentVersion("cc") === 1L)
      val base = Map(5L -> 5L, 9L -> 5L, 20L -> 20L, 21L -> 20L,
        30L -> 30L, 31L -> 30L)
      assert(state() === base)
      // v2: fresh node 3 bridges into {5,9}; {20,21} merges {30,31} —
      // the x62c spec's reconciliation, as ONE CASed commit
      val w1 = SimilarityOps.appendComponentEdgesVersioned(ss, "cc",
        Seq((3L, 9L), (21L, 30L)).toDF("a", "b"))
      assert(w1 === 5L && ss.currentVersion("cc") === 2L)
      val expect1 = Map(3L -> 3L, 5L -> 3L, 9L -> 3L,
        20L -> 20L, 21L -> 20L, 30L -> 20L, 31L -> 20L)
      assert(state() === expect1)
      // merge-on-read: the append committed ONLY its 5 delta rows
      assert(ss.readTable("cc", "comps").count() === 11L)
      // exact retry: reduced graph empty ⇒ NOTHING commits — no version
      assert(SimilarityOps.appendComponentEdgesVersioned(ss, "cc",
        Seq((3L, 9L), (21L, 30L)).toDF("a", "b")) === 0L)
      assert(ss.currentVersion("cc") === 2L)
      // time travel: v1 still serves the pre-merge labels exactly
      assert(state(Some(1L)) === base)
      // the CAS: a claim landed between the pinned read and the commit —
      // the append fails retryably and the post-release retry lands (v3)
      ss.claim("cc", 3L)
      intercept[graft.sources.ConcurrentCommitException](
        SimilarityOps.appendComponentEdgesVersioned(ss, "cc",
          Seq((100L, 101L)).toDF("a", "b")))
      ss.releaseDeadClaims("cc")
      assert(SimilarityOps.appendComponentEdgesVersioned(ss, "cc",
        Seq((100L, 101L)).toDF("a", "b")) === 2L)
      assert(ss.currentVersion("cc") === 3L)
      // compaction: a NEW version, one row per id, reconciled labels
      // unchanged — and pre-compaction history still time-travels
      val before = state()
      assert(SimilarityOps.compactComponentsStateVersioned(ss, "cc") === 4L)
      assert(ss.readTable("cc", "comps").count() === before.size.toLong)
      assert(state() === before)
      assert(state(Some(2L)) === expect1)
      // scale pin: the merge-on-read reconciliation (min per id) runs
      // bucket-local on the id-bucketed state — no exchange in the plan
      val p = SimilarityOps.readComponentsStateVersioned(ss, "cc")
        .queryExecution.executedPlan.toString
      assert(p.contains("Bucketed: true") && !p.contains("Exchange"),
        s"reconciliation must aggregate bucket-locally:\n$p")
    } finally ss.dropCatalogTables("cc")
  }

  test("X31d: VERSIONED minhash index — probe ≡ the minhashNearDups " +
    "decomposition at every version; group rollback restores the " +
    "pre-append index whole") {
    val ss = new graft.sources.SnapshotStore(spark,
      java.nio.file.Files.createTempDirectory("mh_ver").toString)
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double)] =
      df.select("id_a", "id_b", "jaccard").as[(Long, Long, Double)]
        .collect().toSet
    def nearDups(df: org.apache.spark.sql.DataFrame) =
      pairs(SimilarityOps.minhashNearDups("doc_id", "text")(df))
    val corpus = env.documents.filter($"doc_id" % 5 =!= 0)
    val batch = env.documents.filter($"doc_id" % 5 === 0)
    val held = env.documents.filter($"doc_id" % 7 === 0)
      .select(($"doc_id" + 900000000L).as("doc_id"), $"text")
    val corpusOnly = nearDups(corpus)
    val full = nearDups(env.documents)
    // the batch's pairs against version 1: exactly what the union run
    // adds to the corpus-only run
    def batchAgainstCurrent() = pairs(SimilarityOps
      .probeMinhashIndexVersioned(ss, "mh", batch, "doc_id", "text"))
    assert(SimilarityOps.buildMinhashIndexVersioned(ss, "mh", corpus,
      "doc_id", "text") === 1L)
    val probed = batchAgainstCurrent()
    assert(probed.nonEmpty && corpusOnly ++ probed === full &&
      (corpusOnly intersect probed).isEmpty)
    // append commits ONE version; a held-out probe against it adds
    // exactly the union run's new pairs
    assert(SimilarityOps.appendMinhashBatchVersioned(ss, "mh", batch,
      "doc_id", "text") === batch.count())
    assert(ss.currentVersion("mh") === 2L)
    val heldPairs = pairs(SimilarityOps.probeMinhashIndexVersioned(ss,
      "mh", held, "doc_id", "text"))
    assert(heldPairs.nonEmpty &&
      full ++ heldPairs ===
        nearDups(env.documents.select("doc_id", "text").unionByName(held)))
    // metadata-only rollback moves sigs+bands+meta TOGETHER: probing at
    // current again decomposes like the corpus-only index
    ss.rollback("mh", 1L)
    assert(ss.readTable("mh", "sigs").count() === corpus.count())
    assert(batchAgainstCurrent() === probed)
  }

  test("X31c: persisted MinHash index — incremental batch dedup equals " +
    "the full-corpus run on the union; append is idempotent") {
    val dir = java.nio.file.Files.createTempDirectory("mh_store").toString
    val ss = new graft.sources.SnapshotStore(spark, dir)
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double)] =
      df.select("id_a", "id_b", "jaccard").as[(Long, Long, Double)]
        .collect().toSet
    // corpus = 80% of documents, batch = the other 20% — near-dup
    // families straddle the split, so cross pairs must be found
    val corpus = env.documents.filter($"doc_id" % 5 =!= 0)
    val batch = env.documents.filter($"doc_id" % 5 === 0)
    SimilarityOps.buildMinhashIndexVersioned(ss, "mh", corpus,
      "doc_id", "text")
    val probed = pairs(SimilarityOps.probeMinhashIndexVersioned(
      ss, "mh", batch, "doc_id", "text"))
    val corpusOnly = pairs(
      SimilarityOps.minhashNearDups("doc_id", "text")(corpus))
    val full = pairs(
      SimilarityOps.minhashNearDups("doc_id", "text")(env.documents))
    // the incremental decomposition: union run ≡ corpus run ∪ probe
    assert(corpusOnly ++ probed === full)
    // the probe found real cross-split pairs (not a vacuous union)
    assert(probed.nonEmpty)
    assert((corpusOnly intersect probed).isEmpty)
    // commit the batch, then probe it AGAIN as if retried: the index now
    // contains the batch docs, so every batch pair is intra-index…
    val added = SimilarityOps.appendMinhashBatchVersioned(
      ss, "mh", batch, "doc_id", "text")
    assert(added === batch.count())
    // …and a re-append adds nothing (idempotent ingest commit)
    assert(SimilarityOps.appendMinhashBatchVersioned(
      ss, "mh", batch, "doc_id", "text") === 0L)
    // a NEXT batch now dedups against corpus ∪ batch: probing the next
    // batch against the grown index completes the union run again
    val corpus2 = env.documents.filter($"doc_id" % 5 =!= 1)
    val batch2 = env.documents.filter($"doc_id" % 5 === 1)
    SimilarityOps.buildMinhashIndexVersioned(ss, "mh2", corpus2,
      "doc_id", "text")
    val probed2 = pairs(SimilarityOps.probeMinhashIndexVersioned(
      ss, "mh2", batch2, "doc_id", "text"))
    val corpus2Only = pairs(
      SimilarityOps.minhashNearDups("doc_id", "text")(corpus2))
    assert(corpus2Only ++ probed2 === full)
  }

  test("X39c: window-index probe ≡ union-run spans; append idempotent") {
    val dir = java.nio.file.Files.createTempDirectory("wx_store").toString
    val store = new graft.sources.TableStore(spark, dir)
    def spans(df: org.apache.spark.sql.DataFrame): Set[(Long, Int, Int)] =
      df.select("doc_id", "span_start", "span_end")
        .as[(Long, Int, Int)].collect().toSet
    val corpus = env.documents.filter($"doc_id" % 5 =!= 0)
    val batch = env.documents.filter($"doc_id" % 5 === 0)
    SimilarityOps.buildWindowIndex(store, "wx", corpus, "doc_id", "text")
    val probed = spans(SimilarityOps.probeWindowIndex(
      store, "wx", batch, "doc_id", "text"))
    val unionBatchSide = spans(
      SimilarityOps.duplicatedSpans(env.documents, "doc_id", "text")
        .join(batch.select("doc_id"), Seq("doc_id"), "left_semi"))
    assert(probed === unionBatchSide)
    assert(probed.nonEmpty, "split must produce cross-split spans")
    // commit, then idempotency: a retried append adds nothing
    assert(SimilarityOps.appendWindowBatch(
      store, "wx", batch, "doc_id", "text") === batch.count())
    assert(SimilarityOps.appendWindowBatch(
      store, "wx", batch, "doc_id", "text") === 0L)
    // the grown index serves the NEXT batch: probe ≡ union over all three
    val batch2 = env.documents
      .select(($"doc_id" + 1000000).as("doc_id"), $"text")
      .filter($"doc_id" % 7 === 0)
    val probed2 = spans(SimilarityOps.probeWindowIndex(
      store, "wx", batch2, "doc_id", "text"))
    val union2 = spans(
      SimilarityOps.duplicatedSpans(
          env.documents.select("doc_id", "text")
            .unionByName(batch2.select("doc_id", "text")),
          "doc_id", "text")
        .join(batch2.select("doc_id"), Seq("doc_id"), "left_semi"))
    assert(probed2 === union2)
    assert(probed2.nonEmpty)
  }

  test("X39: duplicatedSpans recovers planted cross-doc passages exactly") {
    // P and Q are 10-token passages; "one two three four five" is a
    // 5-token phrase — below windowLen=8, so it must NOT be detected.
    val p = "The Quick brown fox jumps over that lazy dog today"
    val q = "pack my box with five dozen liquor jugs now ok"
    val shortPhrase = "one two three four five"
    val docs = Seq(
      (1L, s"aa1 aa2 aa3 aa4 aa5 $p zz1 zz2 zz3"),          // P at 6..15
      (2L, s"bb1 bb2 bb3 $p cc1 $q dd1 dd2"),               // P 4..13, Q 15..24
      (3L, s"ee1 ee2 $shortPhrase ee3 ee4 ee5 ee6 ee7"),    // no dup
      (4L, s"ff1 ff2 $q $shortPhrase gg1")                  // Q at 3..12
    ).toDF("doc_id", "text")
    val spans = SimilarityOps.duplicatedSpans(docs, "doc_id", "text",
        windowLen = 8, minDocs = 2)
      .orderBy("doc_id", "span_start")
      .select("doc_id", "span_start", "span_end", "span_tokens")
      .as[(Long, Int, Int, Int)].collect().toSeq
    assert(spans === Seq(
      (1L, 6, 15, 10), (2L, 4, 13, 10), (2L, 15, 24, 10), (4L, 3, 12, 10)))
    // coverage: disjoint spans sum; docs without spans report 0
    val cov = SimilarityOps.duplicatedCoverage(docs, "doc_id", "text",
        windowLen = 8, minDocs = 2)
      .orderBy("doc_id")
      .as[(Long, Int, Long, Double)].collect().toSeq
    assert(cov === Seq(
      (1L, 18, 10L, 0.555556), (2L, 26, 20L, 0.769231),
      (3L, 12, 0L, 0.0), (4L, 18, 10L, 0.555556)))
  }

  test("X39d: removeDuplicatedSpans keeps the min-id owner's occurrence") {
    val p = "The Quick brown fox jumps over that lazy dog today"
    val q = "pack my box with five dozen liquor jugs now ok"
    val shortPhrase = "one two three four five"
    val docs = Seq(
      (1L, s"aa1 aa2 aa3 aa4 aa5 $p zz1 zz2 zz3"),
      (2L, s"bb1 bb2 bb3 $p cc1 $q dd1 dd2"),
      (3L, s"ee1 ee2 $shortPhrase ee3 ee4 ee5 ee6 ee7"),
      (4L, s"ff1 ff2 $q $shortPhrase gg1")
    ).toDF("doc_id", "text")
    val out = SimilarityOps.removeDuplicatedSpans(docs, "doc_id", "text",
        windowLen = 8, minDocs = 2)
      .orderBy("doc_id")
      .as[(Long, String, Int, Int)].collect().toSeq
    val pl = p.toLowerCase; val ql = q.toLowerCase
    assert(out === Seq(
      // doc 1 owns P (min id) → untouched (token-normalized)
      (1L, s"aa1 aa2 aa3 aa4 aa5 $pl zz1 zz2 zz3", 18, 0),
      // doc 2 loses its foreign P but OWNS Q (min id of {2,4})
      (2L, s"bb1 bb2 bb3 cc1 $ql dd1 dd2", 26, 10),
      // doc 3 has no duplicated window
      (3L, "ee1 ee2 one two three four five ee3 ee4 ee5 ee6 ee7", 12, 0),
      // doc 4 loses its foreign Q
      (4L, "ff1 ff2 one two three four five gg1", 18, 10)))
  }

  test("X39b: a long shared passage merges into ONE maximal span") {
    // 16-token shared passage → 9 overlapping duplicated windows → the
    // interval merge must yield a single [start, start+15] span, not 9.
    val passage = (1 to 16).map(i => s"tok$i").mkString(" ")
    val docs = Seq(
      (1L, s"x1 x2 x3 $passage y1"),
      (2L, s"w1 $passage v1 v2")
    ).toDF("doc_id", "text")
    val spans = SimilarityOps.duplicatedSpans(docs, "doc_id", "text",
        windowLen = 8, minDocs = 2)
      .orderBy("doc_id")
      .as[(Long, Int, Int, Int)].collect().toSeq
    assert(spans === Seq((1L, 4, 19, 16), (2L, 2, 17, 16)))
  }

  test("X35b: tfidfCosinePairs — identical docs score 1.0, disjoint docs " +
      "never pair, stopword-only overlap is invisible to the capped space") {
    val docs = Seq(
      (1L, "quantum flux capacitor resonance"),
      (2L, "quantum flux capacitor resonance"),   // identical -> cosine 1.0
      (3L, "sourdough starter hydration ratio"),  // disjoint from 1/2
      (4L, "the the the quantum bread"),          // 'quantum' df=3: evicted
      (5L, "the and of to in")                    // shares only 'the' with 4
    ).toDF("doc_id", "text")
    // cap df <= 2: 'quantum' (df 3, docs 1/2/4) leaves the space, so the
    // identical pair scores on flux/capacitor/resonance alone and doc 4
    // no longer touches docs 1/2 at all
    val pairs = SimilarityOps.tfidfCosinePairs(docs, "doc_id", "text",
        minSim = 0.01, maxTermDf = 2L)
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, c) => (a, b) -> c }.toMap
    assert(pairs((1L, 2L)) === 1.0)
    assert(!pairs.contains((1L, 3L)) && !pairs.contains((2L, 3L)))
    assert(!pairs.contains((1L, 4L)) && !pairs.contains((2L, 4L)))
    // 4 and 5 share only 'the' (df 2) -> positive but far from 1
    assert(pairs.get((4L, 5L)).exists(c => c > 0 && c < 0.9))
    // cap df <= 1: no term shared by two docs survives -> no pairs at all
    val capped = SimilarityOps.tfidfCosinePairs(docs, "doc_id", "text",
        minSim = 0.01, maxTermDf = 1L)
      .as[(Long, Long, Double)].collect()
    assert(capped.isEmpty)
  }

  test("X68: semDedup drops planted near-copies (min-id owner), keeps " +
    "the rest, and is idempotent on its survivors") {
    val emb = env.embeddings.withColumn("ce",
      transform($"embedding", v => v.cast("double")))
    val base = emb.select($"vec_id".as("c_id"), $"ce")
    // near-copies of ids 0..19 at +1000: ±1% deterministic perturbation
    // (cos ~ 0.9999 — ALWAYS same-cell for any sane clustering)
    val copies = base.filter($"c_id" < 20)
      .select(($"c_id" + 1000L).as("c_id"),
        transform($"ce", (x, i) => x * (lit(1.0) +
          lit(0.01) * ((($"c_id" + i) % 3) - 1))).as("ce"))
    val corpus = base.unionByName(copies)
    val out = SimilarityOps.semDedup(corpus, nClusters = 8, tau = 0.9)
      .select("c_id", "owner", "dropped")
      .as[(Long, Option[Long], Boolean)].collect()
    val byId = out.map(r => r._1 -> r).toMap
    assert(out.length === 520) // one row per input vector
    // every planted copy is dropped and owned by its source
    (0L until 20L).foreach { id =>
      val (_, owner, dropped) = byId(id + 1000L)
      assert(dropped && owner.contains(id), s"copy of $id not dropped")
    }
    // no original is dropped (raw corpus max pairwise cos ~ 0.51 << 0.9)
    (0L until 500L).foreach { id =>
      assert(!byId(id)._3, s"original $id wrongly dropped")
    }
    // idempotence: dedup of the survivor set drops nothing
    val survivors = corpus.join(
      SimilarityOps.semDedup(corpus, 8, 0.9).filter(!$"dropped")
        .select("c_id"), Seq("c_id"))
    val second = SimilarityOps.semDedup(survivors, 8, 0.9)
      .filter($"dropped").count()
    assert(second === 0L)
  }

  test("X68c: incremental semdedup — a batch row can be owned by an " +
    "ALREADY-DROPPED index row; re-append is a no-op") {
    val dir = java.nio.file.Files.createTempDirectory("sd_inc").toString
    val ss = new graft.sources.SnapshotStore(spark, dir)
    def unit(deg: Double) = Seq(math.cos(math.toRadians(deg)),
      math.sin(math.toRadians(deg)))
    val tau = math.cos(math.toRadians(40)) // ≈ 0.766
    // corpus: v1 at 0°, v2 at 35° (cos 0.819 ≥ τ → dropped, owner 1),
    // v3 at 180° (unrelated survivor)
    val corpus = Seq((1L, unit(0)), (2L, unit(35)), (3L, unit(180)))
      .toDF("c_id", "ce")
    def assigned() = ss.readTable("sdinc", "assigned")
    try {
      SimilarityOps.buildSemDedupIndexVersioned(ss, "sdinc", corpus,
        nClusters = 2, tau = tau)
      // batch: id 10 at 70° — cos to v2(35°) = 0.819 ≥ τ, but cos to the
      // SURVIVOR v1(0°) = 0.342 < τ: its only owner is the dropped row 2.
      // Pruning dropped rows from the owner search would wrongly keep it.
      val batch = Seq((10L, unit(70))).toDF("c_id", "ce")
      assert(SimilarityOps.appendSemDedupBatchVersioned(ss, "sdinc", batch,
        tau) === 1L)
      assert(assigned().count() === 4L)
      val row10 = assigned()
        .filter($"c_id" === 10L)
        .select("owner", "dropped").as[(Option[Long], Boolean)].head()
      assert(row10 === ((Some(2L), true)))
      // idempotent re-ingestion: same batch again changes nothing
      assert(SimilarityOps.appendSemDedupBatchVersioned(ss, "sdinc", batch,
        tau) === 0L)
      assert(assigned().count() === 4L)
      // corpus verdicts untouched by the append
      val verdicts = assigned()
        .filter($"c_id" < 10L).select("c_id", "dropped")
        .as[(Long, Boolean)].collect().toMap
      assert(verdicts === Map(1L -> false, 2L -> true, 3L -> false))
      // non-monotone ingestion (id below the index high-water mark) would
      // need indexed verdicts re-evaluated — must fail fast, not diverge
      val err = intercept[IllegalArgumentException] {
        SimilarityOps.appendSemDedupBatchVersioned(ss, "sdinc",
          Seq((5L, unit(120))).toDF("c_id", "ce"), tau)
      }
      assert(err.getMessage.contains("non-monotone"))
    } finally ss.dropCatalogTables("sdinc")
  }

  /** Pin settings for a block, restoring the suite session afterwards. */
  private def withConf(pairs: (String, String)*)(body: => Unit): Unit = {
    val old = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  /** Skew-join thresholds scaled down to spec-sized shuffles, broadcast
    * off so the cell/label joins actually sort-merge (the 100 TB shape
    * the scaladoc scale arguments wave at AQE). */
  private val skewConf = Seq(
    "spark.sql.autoBroadcastJoinThreshold" -> "-1",
    "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "32KB",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16KB")

  test("X68: a pathologically hot cell (50% of all vectors) is split by " +
      "AQE skew handling — the pair join runs as a skew-optimized SMJ " +
      "and verdicts stay exact") {
    withConf(skewConf: _*) {
      val n = 4000L
      // even ids: one near-dup pile, all landing in the all-ones cell;
      // odd ids: hash-scattered directions across the other centroids
      val vecs = spark.range(n).select($"id".as("c_id"),
        transform(sequence(lit(1), lit(8)), j =>
          when($"id" % 2 === 0, lit(1.0))
            .otherwise(pmod(xxhash64($"id" * lit(31) + j), lit(1001))
              .cast("double") - 500.0)).as("ce"))
      val centroids = Seq(
        (0, Seq.fill(8)(1.0)),
        (1, Seq(1.0, -1.0, 1.0, -1.0, 1.0, -1.0, 1.0, -1.0)),
        (2, Seq(-1.0, 1.0, -1.0, 1.0, -1.0, 1.0, -1.0, 1.0)),
        (3, Seq(-1.0, -1.0, -1.0, -1.0, 1.0, 1.0, 1.0, 1.0))
      ).toDF("cell", "centroid")
      // collect res's OWN QueryExecution (not a derived select) so the
      // inspected adaptive plan is the executed, finalized one
      val res = SimilarityOps.semDedupWithCentroids(vecs, centroids,
        tau = 0.95)
      val rows = res.collect().map { r =>
        val (io, id) = (r.fieldIndex("owner"), r.fieldIndex("c_id"))
        r.getLong(id) -> (
          (if (r.isNullAt(io)) -1L else r.getLong(io)),
          r.getBoolean(r.fieldIndex("dropped")))
      }.toMap
      // every even vector except the pile's min is owned by id 0
      assert(rows.size === n)
      (2L until n by 2).foreach(i => assert(rows(i) === ((0L, true)),
        s"even id $i must be owned by 0, got ${rows(i)}"))
      assert(rows(0L) === ((-1L, false)))
      val plan = res.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"expected an AQE skew-split sort-merge join in:\n$plan")
      graft.ops.RelOps.releaseCheckpoint(res)
    }
  }

  test("x62: star graph (one hub, 50k spokes) on the FORCED shuffle path " +
      "converges in bounded rounds to one component with skew handling on") {
    withConf(skewConf: _*) {
      // hub id deliberately NOT the minimum, so convergence needs real
      // propagation through the hot key rather than the init round alone
      val hub = 99999L
      val edges = spark.range(1L, 50001L)
        .select(lit(hub).as("a"), $"id".as("b"))
      val comp = SimilarityOps.connectedComponents(edges, maxIter = 5,
        broadcastMaxEdges = 0L)
      assert(comp.count() === 50001L)
      assert(comp.select("comp").distinct().as[Long].collect().toSeq
        === Seq(1L))
      graft.ops.RelOps.releaseCheckpoint(comp)
    }
  }
}
