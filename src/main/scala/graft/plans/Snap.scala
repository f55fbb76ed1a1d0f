package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** Materialization-mode knob for the engine's "snap" pattern — the eager
  * materialization of a small shared frame that several plan branches
  * would otherwise recompute (triangleStats' pairs/deg/oriented edges,
  * fuzzyJoinPairs' vocab/variants, the funnel stage frames, drift_psi's
  * histogram).
  *
  * Why a knob (VERDICT r11 item 5): `localCheckpoint` is the fastest
  * local form — one eager job, lineage truncated, blocks in executor
  * storage — but it is NOT fault-tolerant: lineage is gone, so on a real
  * cluster an executor loss (or dynamic allocation reclaiming one) kills
  * the query instead of recomputing it. That is the right trade on
  * `local[*]` (no executor can be lost) and the wrong default on an
  * elastic cluster. `spark.graft.snapMode` picks the contract:
  *
  *  - `local` (default): `localCheckpoint()` — today's exact behavior.
  *    CONTRACT: requires static executors; an executor loss makes the
  *    snapped frame unrecomputable ("cannot be recomputed after
  *    unpersisting" is the same mechanism).
  *  - `persist`: `persist(MEMORY_AND_DISK)` + an eager count. Lineage is
  *    KEPT — an executor loss recomputes the lost blocks; memory-pressure
  *    eviction spills to disk rather than dropping. The eager count keeps
  *    the barrier semantics the snap sites rely on (without it,
  *    independent AQE stages race to fill the cache and each recomputes
  *    the subtree — the cosinePairsNative lesson).
  *  - `reliable`: `checkpoint()` to the session's checkpoint dir — the
  *    snapped frame survives executor loss without recompute (files on
  *    reliable storage). Requires `SparkContext.setCheckpointDir`.
  *
  * [[release]] is mode-aware: callers release through it instead of
  * `ColumnBridge.releaseLocalCheckpoint` so the `finally` blocks stay
  * correct under every mode.
  *
  * The knob covers the snap sites only. pageRank's per-round
  * `localCheckpoint(eager = false)` (`Graph.pageRank`) stays a local
  * checkpoint whatever the knob says, so pageRank requires static
  * executors under every mode.
  *
  * Do NOT snap O(dataset) frames in `local` mode on a real cluster: the
  * dataset itself lands in executor block storage with no way back. The
  * disk-backed modes (`persist`/`reliable`) are the 100 TB contract for
  * those paths; `local` is the bench/fixture default (bench behavior is
  * bit-identical to the pre-knob code).
  */
object Snap {

  val ModeKey = "spark.graft.snapMode"

  private def mode(df: DataFrame): String =
    df.sparkSession.conf.get(ModeKey, "local")

  /** Eagerly materialize `df` under the session's snap mode. The returned
    * frame is what consumers read AND what [[release]] takes — set the
    * mode once per session, before the first snap.
    */
  def snap(df: DataFrame): DataFrame = mode(df) match {
    case "local" => df.localCheckpoint()
    case "persist" =>
      val p = df.persist(StorageLevel.MEMORY_AND_DISK)
      p.count() // eager barrier: one materialization, no AQE cache race
      p
    case "reliable" => df.checkpoint()
    case other => throw new IllegalArgumentException(
      s"$ModeKey must be local | persist | reliable, got '$other'")
  }

  /** Deterministically release a [[snap]]'d frame's storage once every
    * consumer has materialized. Dispatches on what the frame IS, never on
    * the live conf (a mode changed between snap and release would
    * otherwise misroute: `releaseLocalCheckpoint` throws on a persisted
    * frame). A persisted frame is unpersisted (recomputable); a reliable
    * checkpoint is left alone (its files belong to the checkpoint dir's
    * lifecycle, or to `spark.cleaner.referenceTracking.cleanCheckpoints`);
    * a local checkpoint has its blocks freed (the frame becomes
    * unrecomputable — never run it again).
    */
  def release(df: DataFrame): Unit =
    if (df.storageLevel != StorageLevel.NONE) { df.unpersist(blocking = false); () }
    else df.queryExecution.analyzed match {
      case l: LogicalRDD if l.rdd.getCheckpointFile.isDefined => ()
      case _ => org.apache.spark.sql.graft.ColumnBridge.releaseLocalCheckpoint(df)
    }
}
