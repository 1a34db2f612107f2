package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming analogues of the batch training-data operators: exact dedup and
  * sessionization over unbounded inputs. Both are bounded-state by
  * construction (watermark evicts dedup keys; event-time timeout closes
  * sessions) — the two things that make a streaming operator survive an
  * unbounded 100 TB/day feed. */
object StreamingOps {

  /** Streaming exact dedup: first occurrence of each normalized-text
    * fingerprint within the watermark horizon survives; later duplicates are
    * dropped. `dropDuplicatesWithinWatermark` keys state by fingerprint and
    * EVICTS entries older than the watermark — state stays
    * O(docs per horizon), not O(stream). The fingerprint is the same
    * md5 as batch `Dedup.exactGroups`, so batch and stream agree. */
  def dedupStream(docs: DataFrame, tsCol: String = "event_ts",
                  textCol: String = "text", horizon: String = "1 hour"): DataFrame =
    docs.withColumn("fingerprint", graft.ops.TextStats.fingerprint(col(textCol)))
      .withWatermark(tsCol, horizon)
      .dropDuplicatesWithinWatermark("fingerprint")
      // output shape == the input (batch-dedup parity); the dedup key is
      // internal plumbing, not a schema change for downstream sinks
      .drop("fingerprint")

  /** Streaming NEAR-dup dedup by SimHash signature: a doc is dropped when a
    * doc with the identical 64-bit simhash arrived within the horizon. This
    * is the Hamming-distance-0 slice of batch `Dedup.simhashDupPairs` —
    * template/boilerplate near-dups (reordered words, tiny edits on long
    * docs) overwhelmingly collide exactly at 64 bits, while the banded
    * Hamming ≤ k search needs pairwise verification and stays a batch
    * concern. The streaming role is cheap high-precision suppression with
    * state bounded by the horizon, same eviction contract as `dedupStream`.
    * The state key is the signature itself, one long (8 bytes/doc). */
  def nearDedupStream(docs: DataFrame, tsCol: String = "event_ts",
                      textCol: String = "text", horizon: String = "1 hour"): DataFrame =
    docs.withColumn("simhash_key", graft.ops.Dedup.simhash(col(textCol)))
      .withWatermark(tsCol, horizon)
      .dropDuplicatesWithinWatermark("simhash_key")
      .drop("simhash_key")

  /** Streaming corpus-clean: the scan-side curation gates — language,
    * quality score, Gopher repetition rules, benchmark contamination, PII
    * redaction — applied to an unbounded feed. Every gate is STATELESS
    * per-row column logic reusing the exact batch expressions
    * (`TextStats` / `Quality` / `Contamination` / `Scrub`), so the filter
    * needs no state store, no watermark, and gives micro-batch ≡ batch
    * parity for free; compose `dedupStream` after it for the stateful
    * dedup gate. The benchmark n-gram set travels as a literal array of
    * 8-byte hashes (eval suites are KB–MB — broadcast-sized by
    * definition), checked with `arrays_overlap` inside the scan. */
  def corpusCleanStream(docs: DataFrame, benchGramHashes: Seq[Long],
                        n: Int = 8, minQuality: Double = 0.5,
                        textCol: String = "text"): DataFrame =
    docs
      .filter(graft.ops.TextStats.isEnglishHeuristic(col(textCol)))
      .filter(graft.ops.TextStats.qualityScore(col(textCol)) >= minQuality)
      .filter(graft.ops.Quality.passesRepetitionFilter(col(textCol)))
      .filter(!arrays_overlap(graft.ops.Contamination.gramHashes(col(textCol), n),
        lit(benchGramHashes.toArray).cast("array<bigint>")))
      .withColumn("clean_text", graft.ops.Scrub.redact(col(textCol)))

  /** Driver-side helper: distinct hashed word n-grams of a (small)
    * benchmark corpus, for [[corpusCleanStream]]. */
  def benchmarkGramHashes(bench: DataFrame, n: Int = 8,
                          textCol: String = "text"): Seq[Long] = {
    import bench.sparkSession.implicits._
    bench.select(explode(graft.ops.Contamination.gramHashes(col(textCol), n)).as("gh"))
      .distinct().as[Long].collect().toSeq
  }

  case class SessionOut(user_id: String, session_start: Timestamp,
                        session_end: Timestamp, n_events: Long)
  // public: the GroupState encoder's generated code constructs it reflectively
  case class SessionState(start: Long, last: Long, n: Long)

  /** Streaming sessionization (the unbounded analogue of batch q10): events
    * grouped per user; a session closes when no event arrives within
    * `gapSec` of it, enforced by an EVENT-TIME timeout so state is evicted
    * by the watermark clock, not wall time. Emits one row per closed
    * session (Append semantics via flatMapGroupsWithState).
    *
    * Late data (the reason the watermark exists) is handled by interval
    * merging: the open session from state and the batch's events are merged
    * as time intervals, so a late event BEFORE the open session either
    * extends it backwards (within the gap) or forms its own earlier session
    * — it is never silently glued to a later session's start. Only all-but-
    * the-latest merged session close; the latest stays open in state.
    *
    * Memory: the state store holds one fixed-size interval per user
    * (bounded regardless of stream length); the per-BATCH group buffer is
    * bounded by one user's events within a single micro-batch. */
  def sessionizeStream(events: Dataset[(String, Timestamp)], gapSec: Long = 1800,
                       watermark: String = "1 hour"): Dataset[SessionOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapMs = gapSec * 1000
    events.toDF("user_id", "ts")
      .withWatermark("ts", watermark)
      .as[(String, Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (user: String, rows: Iterator[(String, Timestamp)], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            // watermark passed last+gap: the open session is closed and emitted
            val s = state.get
            state.remove()
            Iterator.single(SessionOut(user, new Timestamp(s.start), new Timestamp(s.last), s.n))
          } else {
            // state session + batch events as intervals, merged in time order
            val intervals = (state.getOption.toList ++
                rows.map { case (_, t) => SessionState(t.getTime, t.getTime, 1) })
              .sortBy(s => (s.start, s.last))
            val merged = intervals.foldLeft(List.empty[SessionState]) {
              case (acc @ (cur :: rest), nxt) if nxt.start <= cur.last + gapMs =>
                SessionState(cur.start, math.max(cur.last, nxt.last), cur.n + nxt.n) :: rest
              case (acc, nxt) => nxt :: acc
            }.reverse
            val open = merged.last
            state.update(open)
            state.setTimeoutTimestamp(open.last + gapMs)
            merged.init.iterator.map(s =>
              SessionOut(user, new Timestamp(s.start), new Timestamp(s.last), s.n))
          }
      }
  }
}
