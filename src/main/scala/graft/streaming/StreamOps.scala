package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** X20-X24 (SURVEY §2.9): streaming window operators. Each transform is a
  * plain `DataFrame => DataFrame` that works identically on batch frames
  * (where the DuckDB oracle checks semantics — see EventQueries) and on
  * `readStream` frames (where watermarks govern state eviction and
  * late-data drop — verified with MemoryStream in StreamOpsSpec).
  *
  * Scale posture: windowed aggregation state is partitioned by (window,
  * keys) across executors; the watermark bounds state size — without it a
  * 100 TB stream accumulates state forever. session_window merges
  * per-key adjacent state; dropDuplicatesWithinWatermark keeps only keys
  * younger than the watermark horizon.
  */
// Serializable: the stateful-sessionization closures reference the shared
// gapMerge/toClosed helpers, which captures this object into the task
object StreamOps extends Serializable {

  /** X23: event-time watermark — bounds state and drops data later than
    * `delay` behind the max observed event time. */
  def withLateness(tsCol: String, delay: String)(df: DataFrame): DataFrame =
    df.withWatermark(tsCol, delay)

  /** X20: tumbling window aggregate (count + sum of `valueCol`). */
  def tumblingAgg(tsCol: String, keyCol: String, width: String,
                  valueCol: String)(df: DataFrame): DataFrame =
    df.groupBy(window(col(tsCol), width), col(keyCol))
      .agg(count(lit(1)).as("n"), sum(valueCol).as("sum_v"))
      .select(col("window.start").as("w_start"), col("window.end").as("w_end"),
        col(keyCol), col("n"), col("sum_v"))

  /** X21: sliding window aggregate. */
  def slidingAgg(tsCol: String, keyCol: String, width: String, slide: String,
                 valueCol: String)(df: DataFrame): DataFrame =
    df.groupBy(window(col(tsCol), width, slide), col(keyCol))
      .agg(count(lit(1)).as("n"), sum(valueCol).as("sum_v"))
      .select(col("window.start").as("w_start"), col("window.end").as("w_end"),
        col(keyCol), col("n"), col("sum_v"))

  /** X22: session window (gap-merged) aggregate per key. */
  def sessionAgg(tsCol: String, keyCol: String, gap: String)(df: DataFrame): DataFrame =
    df.groupBy(session_window(col(tsCol), gap), col(keyCol))
      .agg(count(lit(1)).as("n"))
      .select(col(keyCol), col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"), col("n"))

  /** X24: stateful stream dedup — suppresses duplicate ids arriving within
    * the watermark horizon (state for older ids is evicted). */
  def dedupWithinWatermark(idCol: String, tsCol: String, delay: String)(df: DataFrame): DataFrame =
    df.withWatermark(tsCol, delay)
      .dropDuplicatesWithinWatermark(idCol)

  /** Custom per-key streaming state via flatMapGroupsWithState — the
    * escape hatch when built-in windows can't express the state machine.
    * Demonstrated as sessionization: counts events per (user) session,
    * closing a session when no event arrives within `gapMs` of the last
    * (event-time timeout). Emits one row per CLOSED session; open sessions
    * stay in state (bounded by the watermark, which also drives timeout).
    */
  final case class SessionEvent(user_id: Long, ts: java.sql.Timestamp)
  /** Open-session interval; start/end are event-time MICROSECONDS — the
    * events table carries µs precision, and a millisecond state would
    * truncate emitted session bounds by up to 999 µs (visible against
    * the SQL gap-logic oracle, x22b). */
  final case class SessionState(start: Long, end: Long, n: Long)
  final case class ClosedSession(user_id: Long, session_start: java.sql.Timestamp,
                                 session_end: java.sql.Timestamp, n: Long)

  private[graft] def toMicros(t: java.sql.Timestamp): Long =
    math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L

  private[graft] def microsToTs(us: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(math.floorDiv(us, 1000000L) * 1000L)
    t.setNanos((math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }

  /** The sessionization core, shared verbatim by the streaming stateful
    * path and the batch path (sessionizeBatch) so the two cannot drift:
    * sort intervals by time and fold, merging any interval that starts
    * within gapUs of the current session's end. */
  private[graft] def gapMerge(intervals: List[SessionState],
      gapUs: Long): List[SessionState] = {
    val sorted = intervals.sortBy(s => (s.start, s.end))
    sorted.tail.foldLeft(List(sorted.head)) { (acc, s) =>
      val cur = acc.head
      if (s.start - cur.end < gapUs)
        SessionState(cur.start, math.max(cur.end, s.end), cur.n + s.n) :: acc.tail
      else s :: acc
    }.reverse
  }

  private def toClosed(user: Long, s: SessionState): ClosedSession =
    ClosedSession(user, microsToTs(s.start), microsToTs(s.end), s.n)

  def sessionizeWithState(gapMs: Long, watermarkDelay: String = "10 minutes")(
      ds: org.apache.spark.sql.Dataset[SessionEvent])
      : org.apache.spark.sql.Dataset[ClosedSession] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import ds.sparkSession.implicits._
    val gapUs = gapMs * 1000L
    def fn(user: Long, events: Iterator[SessionEvent],
           state: GroupState[SessionState]): Iterator[ClosedSession] = {
      val incoming = events.map { e =>
        val us = toMicros(e.ts)
        SessionState(us, us, 1L)
      }.toList
      if (incoming.nonEmpty) {
        // Gap-merge the open-session interval together with every incoming
        // event, sorted by time: within-watermark late events that precede
        // the open session fold into each other (and into the session, if
        // close enough) exactly as an offline session_window would — they
        // are never emitted as per-event singleton sessions.
        val merged = gapMerge(state.getOption.toList ++ incoming, gapUs)
        val open = merged.last // most recent interval stays in state
        state.update(open)
        // timeout API is millisecond-based; round the µs deadline UP so a
        // session can never time out before its gap truly elapsed
        state.setTimeoutTimestamp(math.floorDiv(open.end + 999L, 1000L) + gapMs)
        merged.init.map(toClosed(user, _)).iterator
      } else if (state.hasTimedOut && state.getOption.isDefined) {
        val s = state.get
        state.remove()
        Iterator.single(toClosed(user, s))
      } else Iterator.empty
    }
    ds.withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(fn)
  }

  /** Batch run of the stateful sessionization: the SAME gapMerge fold
    * over each user's full history, every session emitted (nothing stays
    * open). This is what lets the stateful operator be oracle-checked
    * (x22b) — the streaming-only behaviors (watermark, timeout emission)
    * stay pinned by StreamOpsSpec. Each flatMapGroups call holds ONE
    * user's events; at 100 TB the declarative session_window (x22) is
    * the preferred batch plan, and this shape exists for parity with the
    * streaming state logic. */
  def sessionizeBatch(gapMs: Long)(
      ds: org.apache.spark.sql.Dataset[SessionEvent])
      : org.apache.spark.sql.Dataset[ClosedSession] = {
    import ds.sparkSession.implicits._
    val gapUs = gapMs * 1000L
    ds.groupByKey(_.user_id).flatMapGroups {
      (user: Long, it: Iterator[SessionEvent]) =>
        val intervals = it.map { e =>
          val us = toMicros(e.ts)
          SessionState(us, us, 1L)
        }.toList
        gapMerge(intervals, gapUs).map(toClosed(user, _)).iterator
    }
  }

  // ---- X117b: streaming EWMA (exact adjusted recurrence, O(1) state) ----

  final case class EwmaEvent(user_id: Long, ts: java.sql.Timestamp,
                             event_id: Long, value: Double)
  /** num/den carry pandas ewm(adjust=True) exactly: num ← v + β·num,
    * den ← 1 + β·den, y = num/den (den → 1/α). last* order the stream. */
  final case class EwmaState(lastTs: Long, lastId: Long,
                             num: Double, den: Double)
  final case class EwmaPoint(user_id: Long, event_id: Long,
                             ts: java.sql.Timestamp, value: Double,
                             ewma: Double)

  private def ewmaFold(beta: Double, user: Long, sorted: Seq[EwmaEvent],
      st0: Option[EwmaState]): (List[EwmaPoint], Option[EwmaState]) = {
    var st = st0
    val out = List.newBuilder[EwmaPoint]
    sorted.foreach { e =>
      val us = toMicros(e.ts)
      val accept = st.forall(s =>
        s.lastTs < us || (s.lastTs == us && s.lastId < e.event_id))
      if (accept) {
        val (pn, pd) = st.map(s => (s.num, s.den)).getOrElse((0.0, 0.0))
        val num = e.value + beta * pn
        val den = 1.0 + beta * pd
        st = Some(EwmaState(us, e.event_id, num, den))
        out += EwmaPoint(user, e.event_id, e.ts, e.value, num / den)
      }
    }
    (out.result(), st)
  }

  /** X117b: per-key EWMA over a stream — the UNTRUNCATED adjusted
    * recurrence TimeSeriesOps.ewmaAdjusted approximates in batch. The
    * sequential fold that costs a batch engine a sort-per-key is the
    * natural streaming shape: two doubles of state per key (plus the
    * last-processed position), updated O(1) per event. Within a batch,
    * events sort by (ts, event_id); events at or before the already-
    * processed position DROP (the recurrence cannot retro-insert — the
    * explicit analog of a watermark policy, pinned in StreamOpsSpec).
    * State is never evicted: an EWMA is per-entity lifetime state, ~32
    * bytes/key — 10⁹ keys ≈ 32 GB across a cluster's state stores,
    * which is what RocksDB-backed state is for. */
  def ewmaWithState(alpha: Double)(
      ds: org.apache.spark.sql.Dataset[EwmaEvent])
      : org.apache.spark.sql.Dataset[EwmaPoint] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import ds.sparkSession.implicits._
    val beta = 1.0 - alpha
    def fn(user: Long, events: Iterator[EwmaEvent],
           state: GroupState[EwmaState]): Iterator[EwmaPoint] = {
      val sorted = events.toSeq.sortBy(e => (toMicros(e.ts), e.event_id))
      val (out, st) = ewmaFold(beta, user, sorted, state.getOption)
      st.foreach(state.update)
      out.iterator
    }
    ds.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(fn)
  }

  /** Batch run of the streaming EWMA fold — same accept/update logic over
    * each key's full history, for parity pinning (the x22b discipline:
    * the batch analog is oracle-checkable, the streaming-only behaviors
    * stay spec-pinned). For production BATCH smoothing prefer
    * TimeSeriesOps.ewmaAdjusted: one window, codegen, no group
    * materialization; this shape exists to prove the state logic. */
  def ewmaBatch(alpha: Double)(
      ds: org.apache.spark.sql.Dataset[EwmaEvent])
      : org.apache.spark.sql.Dataset[EwmaPoint] = {
    import ds.sparkSession.implicits._
    val beta = 1.0 - alpha
    ds.groupByKey(_.user_id).flatMapGroups {
      (user: Long, it: Iterator[EwmaEvent]) =>
        val sorted = it.toSeq.sortBy(e => (toMicros(e.ts), e.event_id))
        ewmaFold(beta, user, sorted, None)._1.iterator
    }
  }

  /** Stream-stream interval join: pairs rows of two streams on an equality
    * key where the right event lands within [left.ts, left.ts + within].
    * Both sides carry watermarks, so join state is evicted once the
    * watermark passes the interval bound — without them a 100 TB/day
    * stream-stream join accumulates state forever (Spark rejects the
    * unbounded append-mode plan outright). Works identically on batch
    * frames, where the same expression is a plain non-equi join.
    */
  def intervalJoin(key: String, leftTs: String, rightTs: String,
                   delay: String, within: String)(
      left: DataFrame, right: DataFrame): DataFrame = {
    val l = left.withWatermark(leftTs, delay).alias("l")
    val r = right.withWatermark(rightTs, delay).alias("r")
    l.join(r,
        col(s"l.$key") === col(s"r.$key") &&
          col(s"r.$rightTs") >= col(s"l.$leftTs") &&
          col(s"r.$rightTs") <= col(s"l.$leftTs") + expr(s"interval $within"))
      // single unambiguous key column for downstream select/groupBy
      .drop(col(s"r.$key"))
  }

  /** Streaming sink with the reference's S6/W10 semantics: each micro-batch
    * is keyed-idempotently appended to a TableStore table (existing keys
    * kept). foreachBatch + the anti-join append makes redelivered batches
    * no-ops, so the sink is effectively-once under at-least-once delivery —
    * the streaming restatement of the reference's OR IGNORE load. Returns
    * the started query (caller stops it). */
  def keyedAppendSink(store: graft.sources.TableStore, table: String,
                      key: String, checkpointDir: String)(df: DataFrame)
      : org.apache.spark.sql.streaming.StreamingQuery =
    df.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        store.appendKeyed(table, key, batch): Unit
      }
      .start()

  /** Per-batch CDC reduction + application: reduce a change batch to its
    * LATEST change per key (ordered by `orderCol`), split tombstones
    * (`opCol` == "D") from upserts, and apply both in one table rewrite.
    * With `partCol` set the apply routes through the partition-pruned
    * dynamic-overwrite path (x108's shape) — only partitions the batch
    * touches are rewritten, the 100 TB posture; the batch's rows
    * (tombstones included) must carry `partCol` and keys must not move
    * between partitions. Without it, applyChanges rewrites the table —
    * fine for small reference tables only. Exposed separately from the
    * sink so specs (and batch callers) can drive it directly. */
  def applyCdcBatch(store: graft.sources.TableStore, table: String,
      key: String, orderCol: String, opCol: String,
      partCol: Option[String] = None)(batch: DataFrame): Long = {
    // Deterministic tie-break: two changes to the same key sharing an
    // orderCol value would otherwise resolve by row_number over an
    // unspecified order — a redelivered batch could flip the survivor and
    // silently break the effectively-once convergence contract. A content
    // hash of the whole row makes the pick a pure function of the batch's
    // CONTENTS (identical rows are interchangeable, so their collision is
    // harmless; differing rows colliding on both orderCol and xxhash64 is
    // a 2^-64 event).
    val tieBreak = xxhash64(batch.columns.map(col).toIndexedSeq: _*)
    val latest = graft.ops.RelOps
      .topNPerGroup(1, Seq(key), Seq(desc(orderCol), tieBreak.desc))(batch)
      .drop("rn")
    val upserts = latest.filter(col(opCol) =!= "D").drop(opCol)
    partCol match {
      case Some(p) =>
        val deletes = latest.filter(col(opCol) === "D").select(key, p)
        store.applyChangesPartitioned(table, key, p, upserts, deletes)
      case None =>
        val deletes = latest.filter(col(opCol) === "D").select(key)
        store.applyChanges(table, key, upserts, deletes)
    }
  }

  /** Streaming ingestion into the VERSIONED BM25 index (x125d): each
    * micro-batch folds through RetrievalOps.appendBm25BatchVersioned,
    * whose doc-registry anti-join makes redelivered (and reordered)
    * duplicates no-ops and whose additive stats row keeps df/avgdl exact
    * across any batch split, so probe scores against the streamed index
    * ≡ a batch-built one (spec). One atomic multi-table commit per
    * batch, so a crash at ANY point
    * leaves the index serving the previous version with postings/dl/
    * stats mutually consistent; there is no torn state to audit for.
    * Redelivered duplicate batches commit NOTHING (the registry
    * anti-join empties them before the commit), so content AND version
    * history are effectively-once under at-least-once delivery. Every
    * batch is one auditable, rollback-able version of the whole index
    * group; probes (and time-traveled probes) run concurrently against
    * whatever version the pointer names — an ingesting index serves
    * consistent scores throughout. */
  def versionedBm25IndexSink(ss: graft.sources.SnapshotStore, name: String,
      idCol: String, textCol: String, checkpointDir: String)(df: DataFrame)
      : org.apache.spark.sql.streaming.StreamingQuery =
    df.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        withSinkClaimRecovery(ss, name) {
          graft.ops.RetrievalOps.appendBm25BatchVersioned(ss, name, batch,
            idCol, textCol)
        }: Unit
      }
      .start()

  /** Streaming ingestion into the VERSIONED minhash index (x31d) — the
    * x31c build-once/probe-many dedup loop as a sink: each micro-batch
    * folds through SimilarityOps.appendMinhashBatchVersioned, whose
    * doc-id anti-join against the SIGNATURE registry makes redelivered
    * and reordered duplicate batches no-ops, and batch order does not
    * matter (signatures are per-doc facts, unlike the novelty census's
    * first-seen ownership). Sigs + bands land in ONE atomic commit, so
    * docs registered in sigs with no band rows (which redelivery would
    * then skip forever) cannot occur. Redelivered duplicate batches
    * commit NOTHING (no version): content AND history are
    * effectively-once; every batch is an auditable, rollback-able,
    * time-travelable version of the whole sigs/bands/meta group. A
    * production loop typically probes each batch for its near-dup
    * pairs BEFORE folding it in (probeMinhashIndexVersioned →
    * appendComponentEdgesVersioned → this commit). A
    * crash between claim and swap self-heals on restart via
    * [[withSinkClaimRecovery]] (single-writer checkpoint-lock
    * contract). */
  def versionedMinhashIndexSink(ss: graft.sources.SnapshotStore,
      name: String, idCol: String, textCol: String, checkpointDir: String)(
      df: DataFrame): org.apache.spark.sql.streaming.StreamingQuery =
    df.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        withSinkClaimRecovery(ss, name) {
          graft.ops.SimilarityOps.appendMinhashBatchVersioned(ss, name,
            batch, idCol, textCol)
        }: Unit
      }
      .start()

  /** Streaming ingestion into the VERSIONED novelty census (x120d):
    * grams + docs in ONE atomic commit per micro-batch, so no batch can
    * leave grams whose doc is unregistered, and every batch is a
    * time-travelable version. Redelivery (even after later batches
    * committed) commits nothing — the doc-registry anti-join empties it
    * before the commit — and a mixed batch commits only its fresh docs.
    * The monotone-ingestion gate fails the query loudly on a fresh
    * below-HWM id: that batch would rewrite gram ownership (the x120c
    * contract). Probe scores against the streamed census are therefore
    * ≡ scores against a batch-built one. No caller-session cache
    * refresh is needed: the bucketed commit itself refreshes the
    * store-session registration, and versioned reads re-list partitions
    * per execution against the manifest's commit_v set. */
  def versionedNoveltyCensusSink(ss: graft.sources.SnapshotStore,
      name: String, idCol: String, textCol: String, checkpointDir: String)(
      df: DataFrame): org.apache.spark.sql.streaming.StreamingQuery =
    df.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        withSinkClaimRecovery(ss, name) {
          graft.ops.SimilarityOps.appendNoveltyBatchVersioned(ss, name,
            batch, idCol, textCol)
        }: Unit
      }
      .start()

  /** Streaming ingestion into the VERSIONED IVF index (x32g): each
    * micro-batch assigns to the frozen centroids and commits one atomic
    * cell-bucketed version — redelivery commits nothing, mid-stream
    * versions time-travel, and a probe running beside the ingest always
    * scores against one consistent version. */
  def versionedIvfIndexSink(ss: graft.sources.SnapshotStore, name: String,
      checkpointDir: String)(df: DataFrame)
      : org.apache.spark.sql.streaming.StreamingQuery =
    df.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        withSinkClaimRecovery(ss, name) {
          graft.ops.SimilarityOps.appendIvfBatchVersioned(ss, name, batch)
        }: Unit
      }
      .start()

  /** Streaming ingestion into the VERSIONED SemDeDup state (x68d) —
    * x68c's append as a sink: frozen centroids, dedup against index ∪
    * smaller-id batch rows, with each batch's verdicts landing as ONE
    * atomic cell-bucketed version. Duplicate redelivery is absorbed (the
    * anti-join empties it before the gate); the monotone-id gate fails
    * the query loudly on a FRESH id at or below the index high-water
    * mark, so unlike [[versionedMinhashIndexSink]], batch REORDERING
    * with fresh ids is rejected by design. No caller cache refresh
    * needed (the versionedNoveltyCensusSink rationale). */
  def versionedSemDedupIndexSink(ss: graft.sources.SnapshotStore,
      name: String, tau: Double, checkpointDir: String)(df: DataFrame)
      : org.apache.spark.sql.streaming.StreamingQuery =
    df.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        withSinkClaimRecovery(ss, name) {
          graft.ops.SimilarityOps.appendSemDedupBatchVersioned(ss, name,
            batch, tau)
        }: Unit
      }
      .start()

  /** Streaming ingestion of near-dup EDGE batches into the VERSIONED
    * component state (x62d) — the clustering stage of the dedup loop as
    * a crash-atomic sink, closing the last index family outside the
    * versioned layout: the first non-empty batch BUILDS the state (one
    * atomic id-bucketed commit), every later batch merges union-find-
    * style through SimilarityOps.appendComponentEdgesVersioned — ONE
    * CASed version per batch, O(batch) writes, no state shuffle.
    * Redelivered batches find their endpoints already merged (the
    * reduced graph empties) and commit NOTHING, not even a version;
    * batch ORDER does not matter (min-label reconciliation is
    * commutative — the reconciled label is the component min whatever
    * order the edges arrived). A crash between claim and swap
    * self-heals on restart via [[withSinkClaimRecovery]]; mid-stream
    * versions time-travel, so a leakage-safe split can pin the exact
    * state any batch produced. */
  def versionedComponentsSink(ss: graft.sources.SnapshotStore,
      name: String, checkpointDir: String)(df: DataFrame)
      : org.apache.spark.sql.streaming.StreamingQuery =
    df.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) withSinkClaimRecovery(ss, name) {
          if (!ss.exists(name))
            graft.ops.SimilarityOps
              .buildComponentsStateVersioned(ss, name, batch): Unit
          else
            graft.ops.SimilarityOps
              .appendComponentEdgesVersioned(ss, name, batch): Unit
        }
      }
      .start()

  /** Versioned-sink commit wrapper, single-writer crash recovery: a
    * sink whose PROCESS died between its commit's claim and pointer swap
    * would otherwise wedge on restart (the redelivered batch re-derives
    * the same version and hits the dead claim forever). A commit that
    * merely throws needs none of this — it releases its own claim (the
    * store's single commit path). Under the sink
    * contract — Structured Streaming's checkpoint lock admits ONE live
    * instance per query, so this sink is the sole writer of its table —
    * an in-sink ConcurrentCommitException can only be our own previous
    * incarnation's dead claim: release above-pointer claims and retry
    * once. Multi-writer tables must not share a sink's table name. */
  private def withSinkClaimRecovery[T](ss: graft.sources.SnapshotStore,
      table: String)(commit: => T): T =
    try commit catch {
      case _: graft.sources.ConcurrentCommitException =>
        ss.releaseDeadClaims(table)
        commit
    }

  /** Streaming CDC merge into a VERSIONED table — cdcUpsertSink's
    * semantics through SnapshotStore.commitMerge, so every micro-batch
    * lands as a new auditable version and any batch can be undone by a
    * metadata-only rollback (the x141b story, streamed). Per batch: the
    * change stream reduces to latest-per-key (applyCdcBatch's
    * deterministic tie-break), reshapes to a snapshotDiff change set
    * against the current version, and commits. Content is
    * effectively-once under at-least-once redelivery (a redelivered
    * batch re-derives an all-unchanged diff and commits an identical
    * snapshot); version HISTORY is at-least-once by design — each
    * delivery is its own auditable commit. `cmpCols` are the payload
    * columns (the table projects key + cmpCols, applyDiff's contract).
    * The table must already have a committed base version — commit an
    * empty frame first for a from-nothing stream.
    *
    * 100 TB posture (r17): when the table's layout supports it soundly
    * ([[graft.sources.SnapshotStore.mergeCowApplicable]] — keyed ON
    * `key`, or z-ordered with `key` a z-column) each batch commits
    * through the file-granular [[graft.sources.SnapshotStore
    * .commitMergeCow]]: O(touched files + batch) per micro-batch, not
    * the O(table) rewrite `commitMerge` pays — the difference between
    * a CDC stream that keeps up at scale and one that rewrites the
    * world every trigger. Identical content either way (the spec-
    * pinned merge parity), so the gate is purely a plan choice.
    * `optimizeEvery > 0` folds the small-slice debt CoW accumulates:
    * every Nth batch runs [[graft.sources.SnapshotStore
    * .optimizeSmallFiles]] after the merge (content-preserving,
    * changelog-skipped) — the self-maintaining sink, no external
    * nightly job required. */
  def versionedMergeSink(store: graft.sources.SnapshotStore, table: String,
      key: String, orderCol: String, cmpCols: Seq[String],
      checkpointDir: String, opCol: String = "op",
      optimizeEvery: Int = 0, optimizeTargetBytes: Long = 128L << 20)(
      df: DataFrame)
      : org.apache.spark.sql.streaming.StreamingQuery =
    df.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val tieBreak = xxhash64(batch.columns.map(col).toIndexedSeq: _*)
        val latest = graft.ops.RelOps
          .topNPerGroup(1, Seq(key), Seq(desc(orderCol), tieBreak.desc))(batch)
          .drop("rn")
        // latest-per-key as a snapshotDiff-shaped change set: deletes
        // carry a null new_v; upserts classify as insert OR update —
        // applyDiff treats both the same (anti-join away, then append)
        val diff = latest.select(col(key),
          when(col(opCol) === "D", lit("delete")).otherwise("update")
            .as("change_type"),
          struct(cmpCols.map(col): _*).as("old_v"),
          when(col(opCol) === "D", lit(null))
            .otherwise(struct(cmpCols.map(col): _*)).as("new_v"))
        withSinkClaimRecovery(store, table) {
          if (store.mergeCowApplicable(table, key))
            store.commitMergeCow(table, key, diff)._1
          else store.commitMerge(table, key, diff)
        }: Unit
        if (optimizeEvery > 0 && (id + 1) % optimizeEvery == 0)
          withSinkClaimRecovery(store, table) {
            store.optimizeSmallFiles(table, optimizeTargetBytes)._1
          }: Unit
      }
      .start()

  /** X96-streaming: DQ-gated versioned ingestion — every micro-batch
    * commits its data AND its single-pass constraint report (DqOps
    * .runChecks: one row per check — batch_id, check, metric, passed)
    * as ONE atomic multi-table version: sub-table `data` + sub-table
    * `dq` through SnapshotStore.commitTables. A batch failing ANY check
    * is VETOED: its version carries only the report and an EMPTY data
    * dir — the bad rows never become queryable, while the failure stays
    * an auditable version (and one rollback reopens nothing, since
    * nothing landed). Redelivered batches are recognized by the
    * one-row `meta` sub-table (last committed batch_id — O(1) per
    * batch, not a ledger scan) and skipped whole — effectively-once
    * for data AND
    * report under at-least-once delivery, with no metrics-without-data
    * or data-without-metrics crash window (the pair commits atomically;
    * separate metric/data tables would tear exactly there). Readers:
    * ss.readTable(table, "data") for the accepted rows,
    * ss.readTable(table, "dq") for the full quality ledger. */
  def dqGatedVersionedSink(ss: graft.sources.SnapshotStore, table: String,
      checks: Seq[graft.ops.DqOps.Check], checkpointDir: String)(
      df: DataFrame): org.apache.spark.sql.streaming.StreamingQuery =
    df.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        // O(1) redelivery guard: batch ids are monotone and only the
        // last batch replays, so one scalar read of the tiny `meta` sub
        // (overwritten per commit) decides — scanning the whole dq
        // ledger per batch would grow O(committed batches). The read is
        // PINNED and the commit CASes on it (commitTablesAt), the
        // versioned-append discipline.
        val v0 = ss.currentVersion(table)
        val seen = v0 >= 1 &&
          ss.tinySubHead(table, v0, "meta").getLong(0) >= id
        if (!seen) {
          val report = graft.ops.DqOps.runChecks(batch, checks)
            .withColumn("batch_id", lit(id)).localCheckpoint()
          try {
            val allPass = report.filter(!col("passed")).isEmpty
            withSinkClaimRecovery(ss, table) {
              // pinned to the SAME v0 the seen-check read: a zombie
              // incarnation committing in between fails this commit
              // loudly instead of double-appending the batch
              ss.commitTablesAt(table, v0,
                appends = Map(
                  "dq" -> report,
                  "data" -> (if (allPass) batch
                             else batch.filter(lit(false)))),
                overwrites = Map("meta" -> graft.ops.RelOps.localLongRow(
                  batch.sparkSession, "last_batch_id" -> id)))
            }: Unit
          } finally graft.ops.RelOps.releaseCheckpoint(report)
        }
      }
      .start()

  /** Streaming ingest + incremental view maintenance in LOCKSTEP
    * (X142s): each micro-batch (1) lands in the source group
    * {`data`, `meta(last_batch_id)`} as ONE atomic version — O(1)
    * redelivery recognition off the tiny meta sub, the
    * [[dqGatedVersionedSink]] discipline — then (2) the SUM/COUNT view
    * refreshes from the source's `data` CHANGELOG
    * ([[graft.ops.CdcOps.refreshSumView]] with `srcSub`), committing the
    * merged aggregate + its consumed watermark atomically. The two
    * commits are INDEPENDENTLY exactly-once, so every crash seam heals:
    * dead between ingest and refresh → the redelivered batch ingests
    * nothing and the refresh folds the pending source version(s); dead
    * mid-commit → the claim sweep releases and the retry lands; a
    * refresh is attempted every batch (a no-op when current), so the
    * view never lags more than the in-flight batch. Serving reads hit
    * the VIEW's aggregate — O(groups), never the raw stream — and both
    * the source and the view time-travel per micro-batch. */
  def ivmSink(ss: graft.sources.SnapshotStore, src: String, view: String,
      dims: Seq[String], measure: String, checkpointDir: String)(
      df: DataFrame): org.apache.spark.sql.streaming.StreamingQuery =
    df.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val v0 = ss.currentVersion(src)
        val seen = v0 >= 1 &&
          ss.tinySubHead(src, v0, "meta").getLong(0) >= id
        if (!seen) withSinkClaimRecovery(ss, src) {
          // re-pin per attempt: the recovery retry must CAS against the
          // pointer it actually sees after releasing the dead claim
          ss.commitTablesAt(src, ss.currentVersion(src),
            appends = Map("data" -> batch),
            overwrites = Map("meta" -> graft.ops.RelOps.localLongRow(
              batch.sparkSession, "last_batch_id" -> id)))
        }: Unit
        withSinkClaimRecovery(ss, view) {
          graft.ops.CdcOps.refreshSumView(ss, src, view, dims, measure,
            srcSub = Some("data"))
        }: Unit
      }
      .start()

  /** X142h: the snapshot changelog as a STREAMING SOURCE — the standard
    * table-format consumption shape (Delta's readChangeFeed under
    * Trigger.AvailableNow): view refreshers DECOUPLE from ingest
    * instead of running lockstep inside the producer's foreachBatch
    * ([[ivmSink]]) or hand-polling [[graft.sources.SnapshotStore
    * .changesBetween]]. One call drains every version committed since
    * the CHECKPOINTED watermark (pinned at entry — AvailableNow
    * semantics), one micro-batch per VERSION, ascending: `process(ch,
    * v)` receives exactly that version's changelog step (`_change` /
    * `_commit_v` rows; version 1 delivers its full content as inserts —
    * the initial-snapshot batch), and the watermark file advances
    * ATOMICALLY only after `process` returns. Delivery is therefore
    * at-least-once per version — a crash inside `process` redelivers
    * that version on the next drain and NOTHING after it — which
    * composes to exactly-once end-to-end with any consumer that CASes
    * its own consumed-version watermark ([[graft.ops.CdcOps
    * .foldSumViewStep]], the IVM views): the redelivered step commits
    * nothing. Retention must keep the checkpoint version live
    * (changesBetween's contract — the drain fails loudly, never
    * silently skips). `sub` scopes the feed to one sub-table of a
    * multi-table group (the srcSub discipline).
    * `maxVersionsPerTrigger` bounds ONE drain (Delta's
    * maxFilesPerTrigger discipline): a consumer rejoining after a month
    * of micro-batch ingest otherwise gets thousands of versions in a
    * single call — with the bound it consumes the backlog in resumable
    * slices, the watermark advancing only through versions actually
    * processed, so repeated bounded drains converge to exactly the
    * unbounded drain's state. Returns the versions delivered this
    * drain (fewer than the backlog when the bound bites — call again). */
  def drainChangeFeed(ss: graft.sources.SnapshotStore, name: String,
      checkpointDir: String, sub: Option[String] = None,
      maxVersionsPerTrigger: Option[Int] = None)(
      process: (DataFrame, Long) => Unit): Seq[Long] = {
    maxVersionsPerTrigger.foreach(m => require(m >= 1,
      s"maxVersionsPerTrigger must be >= 1, got $m"))
    import java.nio.file.{Files, Paths, StandardCopyOption}
    Files.createDirectories(Paths.get(checkpointDir))
    val offset = Paths.get(checkpointDir, "offset")
    val w0 =
      if (Files.exists(offset))
        new String(Files.readAllBytes(offset),
          java.nio.charset.StandardCharsets.UTF_8).trim.toLong
      else 0L
    val cur = ss.currentVersion(name) // pinned: AvailableNow drains to here
    require(w0 <= cur, s"change-feed checkpoint v$w0 is AHEAD of " +
      s"'$name' v$cur — was the source rolled back or rebuilt?")
    val delivered = scala.collection.mutable.ArrayBuffer.empty[Long]
    var w = w0
    // the bound caps THIS drain at w0 + max; the watermark file still
    // advances per consumed version, so the next call resumes exactly
    val bound = maxVersionsPerTrigger.fold(cur)(m =>
      math.min(cur, w0 + m))
    while (w < bound) {
      val v = w + 1
      val ch =
        if (v == 1L)
          sub.fold(ss.readVersion(name, 1L))(
              ss.readTableVersion(name, 1L, _))
            .withColumn("_change", lit("insert"))
            .withColumn("_commit_v", lit(1L))
        else sub.fold(ss.changesBetween(name, v - 1, v))(
          ss.changesBetweenTable(name, _, v - 1, v))
      process(ch, v)
      // advance AFTER process returns (tmp + ATOMIC_MOVE, the pointer
      // discipline): a crash inside process redelivers v, never skips it
      val tmp = Paths.get(checkpointDir, "offset.tmp")
      Files.write(tmp, s"$v\n".getBytes(
        java.nio.charset.StandardCharsets.UTF_8))
      Files.move(tmp, offset, StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
      delivered += v
      w = v
    }
    delivered.toSeq
  }

  /** CONTINUOUS consumption of the change feed — the supported shape
    * for long-running consumers (the r17 scope decision, recorded in
    * COVERAGE.md): a paced poll loop over [[drainChangeFeed]]
    * (Trigger.ProcessingTime semantics — drain the backlog, sleep
    * `pollMillis` only when a drain delivered nothing, re-check),
    * running until `until()` returns true between drains. Everything
    * drainChangeFeed guarantees carries over unchanged: checkpointed
    * watermark, at-least-once per version, exactly-once end-to-end
    * with CASing consumers, bounded slices via
    * `maxVersionsPerTrigger`. A registered DSv2 MicroBatchStream was
    * considered and REJECTED for this store: executor-side partition
    * readers cannot route through the store's read path (zone
    * pruning, delete vectors, schema evolution markers all live in
    * the driver-side plan the store builds), so a faithful source
    * would either collect row data to the driver — the anti-pattern
    * this codebase bans — or reimplement the parquet scan outside
    * Catalyst; the drain shape instead reuses the store's full read
    * plan per version. Returns the number of versions delivered over
    * the loop's lifetime. */
  def followChangeFeed(ss: graft.sources.SnapshotStore, name: String,
      checkpointDir: String, sub: Option[String] = None,
      maxVersionsPerTrigger: Option[Int] = None,
      pollMillis: Long = 1000L)(until: () => Boolean)(
      process: (DataFrame, Long) => Unit): Long = {
    require(pollMillis >= 1L, s"pollMillis must be >= 1, got $pollMillis")
    var total = 0L
    while (!until()) {
      val got = drainChangeFeed(ss, name, checkpointDir, sub,
        maxVersionsPerTrigger)(process)
      total += got.size
      if (got.isEmpty && !until()) Thread.sleep(pollMillis)
    }
    total
  }

  /** Streaming CDC upsert sink — the streaming MERGE path: each
    * micro-batch is a change stream (inserts/updates/deletes, possibly
    * several per key); applyCdcBatch folds it into the table. Applying the
    * same batch twice converges to the same table (latest-per-key is
    * deterministic and applyChanges replaces rather than appends), so the
    * sink is effectively-once under at-least-once redelivery — the CDC
    * generalization of keyedAppendSink's insert-only idempotency. */
  def cdcUpsertSink(store: graft.sources.TableStore, table: String,
      key: String, orderCol: String, checkpointDir: String,
      opCol: String = "op", partCol: Option[String] = None)(df: DataFrame)
      : org.apache.spark.sql.streaming.StreamingQuery =
    df.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        applyCdcBatch(store, table, key, orderCol, opCol, partCol)(batch): Unit
      }
      .start()
}
