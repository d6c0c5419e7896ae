package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{classic, DataFrame, Dataset}
import org.apache.spark.sql.catalyst.plans.logical.{DeduplicateWithinWatermark, EventTimeWatermark}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming ingestion semantics (SURVEY.md §2.10): the reference's camera
  * drops files into a directory over hours in bursts of 5;
  * detect_missing_pose (point3d_transformation.py:11-62) is a
  * sessionization over mtimes with a 12 s gap. Structured Streaming forms:
  *
  *  - `sessionGaps`: event-time session windows (works in batch too —
  *    the oracled w8 query reuses it);
  *  - `dedupedEvents`: drops re-delivered (poseId, slot) events within
  *    the watermark window;
  *  - `completeGroups`: count-based groups of 5 per pose id via
  *    flatMapGroupsWithState — emits a group the moment its 5th exposure
  *    arrives, or flushes a partial group when the event-time watermark
  *    passes its timeout (the late-camera-write story the batch reference
  *    doesn't have). Composed as `completeGroups(dedupedEvents(x))`, the
  *    two run as ONE stateful operator: the group state keeps the seen
  *    slots, so a trigger commits one state store per partition, not
  *    two. Checkpoints of the earlier two-operator plan do not resume.
  */
object Sessionize {

  /** One file-arrival event (binaryFile-shaped). */
  case class FileEvent(poseId: String, slot: Int, path: String, ts: Timestamp)

  /** A completed (or timeout-flushed) exposure group. */
  case class PoseGroup(
      poseId: String,
      n: Int,
      complete: Boolean,
      startTs: Timestamp,
      endTs: Timestamp,
      paths: Seq[String])

  /** Per-key state (public: the state encoder's codegen requires a
    * resolvable public constructor): the open group's paths (newest
    * first) and event-time span, and the dedup's seen slots, each with
    * its window end in µs (ts + window).
    */
  case class Acc(paths: Seq[String], startMs: Long, endMs: Long,
      seen: Map[Int, Long]) {
    def restart: Acc = Acc(Seq.empty, Long.MaxValue, Long.MinValue, seen)
  }
  object Acc {
    val empty: Acc = Acc(Seq.empty, Long.MaxValue, Long.MinValue, Map.empty)
  }

  /** Event-time session windows over a timestamp column; `df` may be a
    * batch or streaming DataFrame (streaming requires a watermark
    * upstream). Output: one row per (keyCols, session): n, start, end.
    */
  def sessionGaps(df: DataFrame, tsCol: String, gapSeconds: Long,
      keyCols: Seq[String]): DataFrame = {
    val win = session_window(col(tsCol), s"$gapSeconds seconds")
    df.groupBy(win +: keyCols.map(col): _*)
      .agg(count(lit(1)).as("n"),
        min(col(tsCol)).as("start_ts"), max(col(tsCol)).as("end_ts"))
      .select(keyCols.map(col) :+ col("n") :+ col("start_ts") :+
        col("end_ts"): _*)
  }

  /** Streaming exact dedup: drop re-delivered file events by
    * (poseId, slot) within the watermark window — the exact-dedup
    * operator of the batch pipeline (Dedup.exactDedup) made streaming.
    * `dropDuplicatesWithinWatermark` keeps per-key state only until the
    * watermark passes it, so state is bounded by event-time skew rather
    * than growing with the stream (the plain dropDuplicates would).
    * Fed straight into [[completeGroups]], this operator is not run: the
    * group state takes its dedup over.
    */
  def dedupedEvents(events: Dataset[FileEvent],
      withinSeconds: Long = 60): Dataset[FileEvent] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark("ts", s"$withinSeconds seconds")
      .dropDuplicatesWithinWatermark("poseId", "slot")
      .as[FileEvent]
  }

  /** The dedup's input and window (µs) when `events` is exactly what
    * [[dedupedEvents]] builds — a watermark-window dedup on
    * (poseId, slot) — else `events` itself and no window.
    */
  private def absorbDedup(events: Dataset[FileEvent])
      : (Dataset[FileEvent], Option[Long]) = events match {
    case ds: classic.Dataset[FileEvent @unchecked] =>
      ds.queryExecution.analyzed match {
        case DeduplicateWithinWatermark(keys, child)
            if keys.map(_.name).sorted == Seq("poseId", "slot") =>
          child.output.find(_.name == "ts").map(_.metadata)
            .filter(_.contains(EventTimeWatermark.delayKey))
            .fold((events, Option.empty[Long])) { md =>
              val input: Dataset[FileEvent] =
                new classic.Dataset(ds.sparkSession, child, ds.encoder)
              (input, Some(md.getLong(EventTimeWatermark.delayKey) * 1000))
            }
        case _ => (events, None)
      }
    case _ => (events, None)
  }

  /** Count-based group assembly: emit each pose's group as soon as
    * `groupSize` files arrived; flush incomplete groups when the event
    * time watermark passes last-event + `gapSeconds` (mirrors the 12 s
    * missing-pose rule). State per key is O(groupSize).
    *
    * Fed [[dedupedEvents]], the dedup runs here, in the same
    * `flatMapGroupsWithState`: one stateful operator, so one state-store
    * commit per partition per trigger instead of two. Each pose's state
    * keeps its seen slots until the watermark reaches slot ts + window,
    * exactly when `dropDuplicatesWithinWatermark` evicts the key, and
    * the timeout is the earlier of the group deadline and the first
    * expiry, so the output matches the two-operator plan batch for
    * batch. Any other input runs the same function with no window. A
    * checkpoint written by the two-operator plan (before the dedup was
    * taken over) cannot be resumed by this one: its operators differ.
    */
  def completeGroups(events: Dataset[FileEvent], groupSize: Int = 5,
      gapSeconds: Long = 12, setWatermark: Boolean = true)
      : Dataset[PoseGroup] = {
    val spark = events.sparkSession
    import spark.implicits._
    val (input, windowMicros) = absorbDedup(events)
    val gapMs = gapSeconds * 1000

    def flush(key: String, acc: Acc, complete: Boolean): PoseGroup =
      PoseGroup(key, acc.paths.length, complete,
        new Timestamp(acc.startMs), new Timestamp(acc.endMs),
        acc.paths.reverse)

    // setWatermark=false composes with an upstream stage that already
    // declared one (e.g. dedupedEvents): Spark allows CHAINED stateful
    // operators but forbids REDEFINING the watermark on one lineage —
    // the upstream delay then also governs this stage's timeout sweep
    (if (setWatermark) input.withWatermark("ts", s"$gapSeconds seconds")
     else input)
      .groupByKey(_.poseId)
      .flatMapGroupsWithState[Acc, PoseGroup](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key: String, it: Iterator[FileEvent], state: GroupState[Acc]) =>
          // one body for new data and for a timeout (whose iterator is
          // empty): add the unseen slots, then settle both deadlines
          // against the watermark
          var acc = state.getOption.getOrElse(Acc.empty)
          val emitted = scala.collection.mutable.ListBuffer[PoseGroup]()
          it.foreach { e =>
            if (!acc.seen.contains(e.slot)) {
              val ms = e.ts.getTime
              // the µs the dedup operator reads from its UnsafeRow
              val seen = windowMicros.fold(acc.seen)(w => acc.seen.updated(
                e.slot, DateTimeUtils.fromJavaTimestamp(e.ts) + w))
              acc = Acc(e.path +: acc.paths, math.min(acc.startMs, ms),
                math.max(acc.endMs, ms), seen)
              if (acc.paths.length >= groupSize) {
                emitted += flush(key, acc, complete = true)
                acc = acc.restart
              }
            }
          }
          // the group deadline passed: flush the partial group, as the
          // timeout would; the seen slots expire as
          // StreamingDeduplicateWithinWatermarkExec evicts them, at
          // expiresAt <= watermark
          if (acc.paths.nonEmpty || acc.seen.nonEmpty) {
            val wm = state.getCurrentWatermarkMs()
            if (acc.paths.nonEmpty && acc.endMs + gapMs < wm) {
              emitted += flush(key, acc, complete = false)
              acc = acc.restart
            }
            acc = acc.copy(seen = acc.seen.filter(_._2 > wm * 1000))
          }
          // a timeout fires once timeout < watermark, so an entry
          // expiring at e µs needs floor((e - 1) / 1000) ms
          val deadlines =
            (if (acc.paths.nonEmpty) Seq(acc.endMs + gapMs) else Nil) ++
              acc.seen.values.map(e => Math.floorDiv(e - 1, 1000L))
          if (deadlines.isEmpty) state.remove()
          else {
            state.update(acc)
            state.setTimeoutTimestamp(deadlines.min)
          }
          emitted.iterator
      }
  }
}
