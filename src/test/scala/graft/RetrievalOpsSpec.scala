package graft

import graft.ops.RetrievalOps

/** X125 BM25: parity with a driver-side reference fold plus the ranking
  * properties that define the scorer (idf favors rare terms, tf saturates,
  * length normalization penalizes long docs). */
class RetrievalOpsSpec extends SparkSpec {

  import spark.implicits._

  private val corpus = Seq(
    (1L, "spark shuffle join join join"),       // tf(join)=3, dl=5
    (2L, "spark shuffle join"),                 // tf(join)=1, dl=3
    (3L, "spark spark spark spark"),            // no query term
    (4L, "rare spark shuffle")                  // 'rare' appears once
  ).toDF("doc_id", "text")

  private def ref(tf: Double, df: Double, dl: Double,
                  n: Double, avgdl: Double,
                  k1: Double = 1.2, b: Double = 0.75): Double =
    math.log(1.0 + (n - df + 0.5) / (df + 0.5)) * (tf * (k1 + 1.0)) /
      (tf + k1 * (1.0 - b + b * dl / avgdl))

  test("X125: scores match the reference formula exactly per doc") {
    val out = RetrievalOps.bm25Scores(corpus, "doc_id", "text",
        Seq("join", "rare"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    val (n, avgdl) = (4.0, 15.0 / 4.0)
    val d1 = ref(3, 2, 5, n, avgdl)                    // join in docs 1,2
    val d2 = ref(1, 2, 3, n, avgdl)
    val d4 = ref(1, 1, 3, n, avgdl)                    // rare: df=1
    assert(out.keySet === Set(1L, 2L, 4L))             // doc 3 matches nothing
    // spark rounds to 6 digits; the rounded value sits within half an ulp
    // of the unrounded reference
    assert(out(1L)._1 === 1L && math.abs(out(1L)._2 - d1) <= 5.01e-7)
    assert(out(2L)._1 === 1L && math.abs(out(2L)._2 - d2) <= 5.01e-7)
    assert(out(4L)._1 === 1L && math.abs(out(4L)._2 - d4) <= 5.01e-7)
    // the defining properties, from the same numbers:
    assert(d1 > d2, "higher tf must score higher at equal df")
    assert(d4 > d2, "rarer term must outscore a common one at equal tf")
  }

  test("X125: tf saturates — score growth is sublinear in tf") {
    val lift1 = ref(2, 2, 5, 10, 5) - ref(1, 2, 5, 10, 5)
    val lift2 = ref(3, 2, 5, 10, 5) - ref(2, 2, 5, 10, 5)
    assert(lift2 < lift1)
  }

  test("X126: rrfFuse sums reciprocal ranks, absent legs contribute zero") {
    val legA = Seq((1L, 0.9), (2L, 0.5), (3L, 0.1)).toDF("id", "score")
    val legB = Seq((2L, 0.8), (4L, 0.7)).toDF("id", "score")
    val out = RetrievalOps.rrfFuse(Seq(legA, legB), "id", "score", k = 60)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    assert(out(1L) === ((1L, 1.0 / 61)))              // rank 1 in A only
    assert(out(2L) === ((2L, 1.0 / 62 + 1.0 / 61)))   // rank 2 in A, 1 in B
    assert(out(3L) === ((1L, 1.0 / 63)))
    assert(out(4L) === ((1L, 1.0 / 62)))
  }

  test("X126: rank ties on equal score break by id — deterministic fusion") {
    val leg = Seq((7L, 0.5), (3L, 0.5), (9L, 0.5)).toDF("id", "score")
    val out = RetrievalOps.rrfFuse(Seq(leg), "id", "score", k = 0)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    // ranks by (score desc, id asc): 3 → 1, 7 → 2, 9 → 3
    assert(out === Map(3L -> 1.0, 7L -> 0.5, 9L -> (1.0 / 3)))
  }

  test("X125: multi-term docs sum per-term scores; n_hit counts terms") {
    val docs = Seq((1L, "alpha beta"), (2L, "alpha"), (3L, "gamma"))
      .toDF("doc_id", "text")
    val out = RetrievalOps.bm25Scores(docs, "doc_id", "text",
        Seq("alpha", "beta"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === Map(1L -> 2L, 2L -> 1L))
  }

  private def scored(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  test("X125b: persisted-index probe ≡ bm25Scores at every commit point; " +
      "retried append is a no-op") {
    val dir = java.nio.file.Files.createTempDirectory("bm25_idx_").toString
    val ss = new graft.sources.SnapshotStore(spark, dir)
    val terms = Seq("join", "rare")
    val part1 = corpus.filter($"doc_id" <= 2)
    val part2 = corpus.filter($"doc_id" > 2)
    def probe() = scored(RetrievalOps.probeBm25IndexVersioned(ss, "bm",
      "doc_id", terms))
    RetrievalOps.buildBm25IndexVersioned(ss, "bm", part1, "doc_id", "text")
    // parity BEFORE any commit (partial-corpus df/avgdl, not full)
    assert(probe() === scored(
      RetrievalOps.bm25Scores(part1, "doc_id", "text", terms)))
    assert(RetrievalOps.appendBm25BatchVersioned(ss, "bm", part2,
      "doc_id", "text") === 2L)
    val full = scored(RetrievalOps.bm25Scores(corpus, "doc_id", "text", terms))
    assert(probe() === full)
    // idempotent retry: adds nothing, stats stay exact
    assert(RetrievalOps.appendBm25BatchVersioned(ss, "bm", part2,
      "doc_id", "text") === 0L)
    assert(probe() === full)
  }

  test("X125c: tombstone delete re-derives df/avgdl exactly; compaction " +
      "leaves probe results unchanged; deleted ids re-add only after " +
      "compaction") {
    val dir = java.nio.file.Files.createTempDirectory("bm25_del_").toString
    val ss = new graft.sources.SnapshotStore(spark, dir)
    val terms = Seq("join", "rare")
    RetrievalOps.buildBm25IndexVersioned(ss, "bm", corpus, "doc_id", "text")
    def probe() = scored(RetrievalOps.probeBm25IndexVersioned(ss, "bm",
      "doc_id", terms))
    val doomed = corpus.filter($"doc_id" === 2).select("doc_id")
    assert(RetrievalOps.deleteBm25DocsVersioned(ss, "bm", doomed,
      "doc_id") === 1L)
    // retried delete: no-op (stats must not double-subtract)
    assert(RetrievalOps.deleteBm25DocsVersioned(ss, "bm", doomed,
      "doc_id") === 0L)
    val survivors = scored(RetrievalOps.bm25Scores(
      corpus.filter($"doc_id" =!= 2), "doc_id", "text", terms))
    assert(probe() === survivors)
    // a dead id cannot silently re-add before compaction
    assert(RetrievalOps.appendBm25BatchVersioned(ss, "bm",
      corpus.filter($"doc_id" === 2), "doc_id", "text") === 0L)
    // compaction: physical rewrite, probe unchanged
    assert(RetrievalOps.compactBm25IndexVersioned(ss, "bm") === 3L)
    assert(probe() === survivors)
    // post-compaction the id is genuinely gone, so re-adding works
    assert(RetrievalOps.appendBm25BatchVersioned(ss, "bm",
      corpus.filter($"doc_id" === 2), "doc_id", "text") === 1L)
    assert(probe() === scored(RetrievalOps.bm25Scores(corpus,
      "doc_id", "text", terms)))
  }

  test("X125b: append works when the caller's id column is literally " +
      "named 'id' (registry alias keeps the anti-join unambiguous)") {
    val dir = java.nio.file.Files.createTempDirectory("bm25_idcol_").toString
    val ss = new graft.sources.SnapshotStore(spark, dir)
    val docs = corpus.withColumnRenamed("doc_id", "id")
    RetrievalOps.buildBm25IndexVersioned(ss, "bm",
      docs.filter($"id" <= 2), "id", "text")
    assert(RetrievalOps.appendBm25BatchVersioned(ss, "bm",
      docs.filter($"id" > 2), "id", "text") === 2L)
    assert(scored(RetrievalOps.probeBm25IndexVersioned(ss, "bm", "id",
      Seq("join", "rare"))) ===
      scored(RetrievalOps.bm25Scores(docs, "id", "text", Seq("join", "rare"))))
  }

  test("X125: auditBm25IndexVersioned passes a healthy index through its " +
      "whole lifecycle and flags each torn shape committed on purpose") {
    val dir = java.nio.file.Files.createTempDirectory("bm25_audit_").toString
    val ss = new graft.sources.SnapshotStore(spark, dir)
    RetrievalOps.buildBm25IndexVersioned(ss, "bm",
      corpus.filter($"doc_id" <= 3), "doc_id", "text")
    assert(RetrievalOps.auditBm25IndexVersioned(ss, "bm")._1)
    RetrievalOps.appendBm25BatchVersioned(ss, "bm",
      corpus.filter($"doc_id" > 3), "doc_id", "text")
    RetrievalOps.deleteBm25DocsVersioned(ss, "bm",
      corpus.filter($"doc_id" === 2).select("doc_id"), "doc_id")
    assert(RetrievalOps.auditBm25IndexVersioned(ss, "bm")._1,
      "append + delete must keep the invariants")
    // torn shape 1: postings without their dl/stats rows, committed
    // deliberately as one group version
    val v = ss.commitTables("bm", appends = Map("postings" ->
      Seq((99L, "ghost", 1L)).toDF("id", "term", "tf")))
    val (ok1, orphans, _, _) = RetrievalOps.auditBm25IndexVersioned(ss, "bm")
    assert(!ok1 && orphans === 1L)
    // the version before it still audits clean
    assert(RetrievalOps.auditBm25IndexVersioned(ss, "bm", Some(v - 1))._1)
    // torn shape 2: a dl row without its stats row (on a fresh index)
    val ss2 = new graft.sources.SnapshotStore(spark,
      java.nio.file.Files.createTempDirectory("bm25_audit2_").toString)
    RetrievalOps.buildBm25IndexVersioned(ss2, "bm", corpus, "doc_id", "text")
    ss2.commitTables("bm",
      appends = Map("dl" -> Seq((99L, 7L)).toDF("id", "dl")))
    val (ok2, _, docDrift, tokenDrift) =
      RetrievalOps.auditBm25IndexVersioned(ss2, "bm")
    assert(!ok2 && docDrift === -1L && tokenDrift === -7L)
  }

  test("X125b: the index probe PUSHES the term filter to the postings " +
      "scan — the pruned-read claim, pinned in the plan") {
    val dir = java.nio.file.Files.createTempDirectory("bm25_plan_").toString
    val ss = new graft.sources.SnapshotStore(spark, dir)
    RetrievalOps.buildBm25IndexVersioned(ss, "bm", corpus, "doc_id", "text")
    val probe = RetrievalOps.probeBm25IndexVersioned(ss, "bm", "doc_id",
      Seq("join", "rare"))
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("In(term, [join,rare])") ||
      plan.contains("In(term, [rare,join])"),
      s"expected the term IN filter pushed to the postings scan:\n$plan")
  }

  test("X125d: versioned lifecycle — build/append/delete/compact each " +
      "one atomic commit; probe ≡ bm25Scores at every point; rollback " +
      "of the GROUP restores pre-delete scores; retry commits nothing") {
    val dir = java.nio.file.Files.createTempDirectory("bm25_ver_").toString
    val ss = new graft.sources.SnapshotStore(spark, dir)
    val terms = Seq("join", "rare")
    def probe(v: Option[Long] = None) = scored(
      RetrievalOps.probeBm25IndexVersioned(ss, "bm", "doc_id", terms,
        version = v))
    val part1 = corpus.filter($"doc_id" <= 2)
    assert(RetrievalOps.buildBm25IndexVersioned(ss, "bm", part1,
      "doc_id", "text") === 1L)
    assert(probe() === scored(
      RetrievalOps.bm25Scores(part1, "doc_id", "text", terms)))
    assert(RetrievalOps.appendBm25BatchVersioned(ss, "bm",
      corpus.filter($"doc_id" > 2), "doc_id", "text") === 2L)
    val full = scored(RetrievalOps.bm25Scores(corpus, "doc_id", "text", terms))
    assert(probe() === full)
    // retried append: no docs, NO VERSION — history unchanged
    assert(RetrievalOps.appendBm25BatchVersioned(ss, "bm",
      corpus.filter($"doc_id" > 2), "doc_id", "text") === 0L)
    assert(ss.currentVersion("bm") === 2L)
    // delete is ONE commit (dead + negative stats can't tear apart)
    val doomed = corpus.filter($"doc_id" === 2).select("doc_id")
    assert(RetrievalOps.deleteBm25DocsVersioned(ss, "bm", doomed,
      "doc_id") === 1L)
    assert(RetrievalOps.deleteBm25DocsVersioned(ss, "bm", doomed,
      "doc_id") === 0L) // retried delete: no commit either
    assert(ss.currentVersion("bm") === 3L)
    val survivors = scored(RetrievalOps.bm25Scores(
      corpus.filter($"doc_id" =!= 2), "doc_id", "text", terms))
    assert(probe() === survivors)
    // time travel: the PRE-DELETE index still serves its exact scores
    assert(probe(Some(2L)) === full)
    // compaction: one overwrite commit, probe unchanged
    assert(RetrievalOps.compactBm25IndexVersioned(ss, "bm") === 3L)
    assert(probe() === survivors)
    // rollback the whole group to pre-delete: all four sub-tables move
    // together (v2's tombstones were empty, so doc 2 is back)
    ss.rollback("bm", 2L)
    assert(probe() === full)
    // audits pass at every live version — torn states unconstructible
    ss.versions("bm").foreach(v => assert(
      RetrievalOps.auditBm25IndexVersioned(ss, "bm", Some(v))._1,
      s"audit at v$v"))
  }

  test("X125d: a mid-commit death at the stage seam leaves every " +
      "sub-table serving the previous consistent version; vacuum " +
      "releases the claim and the retried append then lands") {
    val dir = java.nio.file.Files.createTempDirectory("bm25_kill_").toString
    val ss = new graft.sources.SnapshotStore(spark, dir)
    val terms = Seq("join", "rare")
    val part1 = corpus.filter($"doc_id" <= 2)
    val part2 = corpus.filter($"doc_id" > 2)
    RetrievalOps.buildBm25IndexVersioned(ss, "bm", part1, "doc_id", "text")
    val before = scored(RetrievalOps.probeBm25IndexVersioned(ss, "bm",
      "doc_id", terms))
    // stage the append completely — all three sub-table dirs + manifest —
    // and die before the swap
    val base = RetrievalOps.freshBaseVersioned(ss, "bm", 1L, part2,
      "doc_id", "text")
    ss.claim("bm", 2L)
    ss.stageTables("bm", 2L, RetrievalOps.indexTablesOf(base), Map.empty)
    graft.ops.RelOps.releaseCheckpoint(base)
    assert(ss.currentVersion("bm") === 1L)
    assert(scored(RetrievalOps.probeBm25IndexVersioned(ss, "bm",
      "doc_id", terms)) === before, "probe serves the consistent v1")
    assert(RetrievalOps.auditBm25IndexVersioned(ss, "bm")._1)
    // recovery: vacuum (writers quiesced) releases the dead claim +
    // staged debris; the retried append commits normally as v2
    val plan = ss.vacuumDryRun("bm")
    assert(plan.staleClaims.contains("v2") &&
      plan.staleManifests === Seq("v2"))
    ss.vacuum("bm")
    assert(RetrievalOps.appendBm25BatchVersioned(ss, "bm", part2,
      "doc_id", "text") === 2L)
    assert(scored(RetrievalOps.probeBm25IndexVersioned(ss, "bm",
      "doc_id", terms)) ===
      scored(RetrievalOps.bm25Scores(corpus, "doc_id", "text", terms)))
  }

  test("X125d: the versioned append CASes on its read snapshot — a " +
      "commit landing between read and commit surfaces as a retryable " +
      "conflict, and the retry dedups against the NEW state (no " +
      "double-registration)") {
    import graft.sources.ConcurrentCommitException
    val ss = new graft.sources.SnapshotStore(spark,
      java.nio.file.Files.createTempDirectory("bm25_cas_").toString)
    RetrievalOps.buildBm25IndexVersioned(ss, "bm",
      corpus.filter($"doc_id" <= 2), "doc_id", "text")
    // writer B pins its read at v1...
    val v0 = ss.currentVersion("bm")
    val base = RetrievalOps.freshBaseVersioned(ss, "bm", v0,
      corpus.filter($"doc_id" > 1), "doc_id", "text")
    // ...then writer A commits doc 3 (overlapping B's batch) first
    assert(RetrievalOps.appendBm25BatchVersioned(ss, "bm",
      corpus.filter($"doc_id" === 3), "doc_id", "text") === 1L)
    // B's commit against its stale read MUST fail retryably — its
    // anti-join never saw doc 3, so committing would double-register it
    intercept[ConcurrentCommitException] {
      ss.commitTablesAt("bm", v0,
        appends = RetrievalOps.indexTablesOf(base))
    }
    graft.ops.RelOps.releaseCheckpoint(base)
    // the honest retry (re-read + re-dedup) ingests only doc 4
    assert(RetrievalOps.appendBm25BatchVersioned(ss, "bm",
      corpus.filter($"doc_id" > 1), "doc_id", "text") === 1L)
    assert(ss.readTable("bm", "dl").select("id").distinct().count() ===
      ss.readTable("bm", "dl").count(), "no doc registered twice")
    assert(RetrievalOps.auditBm25IndexVersioned(ss, "bm")._1)
  }

  test("X125d: two genuinely concurrent writers with overlapping " +
      "batches, retrying on conflict — every doc lands exactly once " +
      "and the final probe equals a from-scratch score") {
    import graft.sources.ConcurrentCommitException
    val ss = new graft.sources.SnapshotStore(spark,
      java.nio.file.Files.createTempDirectory("bm25_race_").toString)
    RetrievalOps.buildBm25IndexVersioned(ss, "bm",
      corpus.filter($"doc_id" === 1), "doc_id", "text")
    val conflicts = new java.util.concurrent.atomic.AtomicInteger(0)
    val gate = new java.util.concurrent.CountDownLatch(2)
    // both writers try to ingest the SAME overlapping doc set (2..4),
    // split into per-doc batches in opposite orders
    def writer(order: Seq[Long]): Thread = new Thread(() => {
      gate.countDown(); gate.await()
      order.foreach { id =>
        var done = false
        while (!done) {
          try {
            RetrievalOps.appendBm25BatchVersioned(ss, "bm",
              corpus.filter($"doc_id" === id), "doc_id", "text")
            done = true
          } catch {
            case _: ConcurrentCommitException => conflicts.incrementAndGet()
          }
        }
      }
    })
    val ts = Seq(writer(Seq(2L, 3L, 4L)), writer(Seq(4L, 3L, 2L)))
    ts.foreach(_.start()); ts.foreach(_.join(120000))
    val dl = ss.readTable("bm", "dl")
    assert(dl.count() === 4L && dl.select("id").distinct().count() === 4L,
      "every doc exactly once despite overlapping concurrent ingests")
    assert(RetrievalOps.auditBm25IndexVersioned(ss, "bm")._1)
    assert(scored(RetrievalOps.probeBm25IndexVersioned(ss, "bm",
      "doc_id", Seq("join", "rare"))) ===
      scored(RetrievalOps.bm25Scores(corpus, "doc_id", "text",
        Seq("join", "rare"))))
  }

  test("X125: a batch with duplicate doc ids is refused loudly on build " +
      "and append (dl/stats would silently double-count)") {
    val dir = java.nio.file.Files.createTempDirectory("bm25_dup_").toString
    val ss = new graft.sources.SnapshotStore(spark, dir)
    val dup = corpus.unionByName(corpus.filter($"doc_id" === 1))
    val e = intercept[IllegalArgumentException](
      RetrievalOps.buildBm25IndexVersioned(ss, "bm", dup, "doc_id", "text"))
    assert(e.getMessage.contains("duplicate doc ids"))
    RetrievalOps.buildBm25IndexVersioned(ss, "bm",
      corpus.filter($"doc_id" <= 2), "doc_id", "text")
    intercept[IllegalArgumentException](
      RetrievalOps.appendBm25BatchVersioned(ss, "bm",
        corpus.filter($"doc_id" > 2)
          .unionByName(corpus.filter($"doc_id" === 3)), "doc_id", "text"))
  }

  test("X125b: empty corpus fails loudly (avgdl undefined) on both paths") {
    val dir = java.nio.file.Files.createTempDirectory("bm25_empty_").toString
    val ss = new graft.sources.SnapshotStore(spark, dir)
    val empty = corpus.filter($"doc_id" < 0)
    RetrievalOps.buildBm25IndexVersioned(ss, "bm", empty, "doc_id", "text")
    val probe = intercept[IllegalArgumentException] {
      RetrievalOps.probeBm25IndexVersioned(ss, "bm", "doc_id", Seq("join"))
    }
    // the refusal names the entry point the caller used
    assert(probe.getMessage.contains("probeBm25IndexVersioned: empty index"))
    intercept[IllegalArgumentException] {
      RetrievalOps.bm25Scores(empty, "doc_id", "text", Seq("join"))
    }
  }
}
