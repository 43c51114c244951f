package graft.ops

import org.apache.spark.sql.{DataFrame, LineageCut}
import org.apache.spark.storage.StorageLevel

/** The one materialization discipline of the corpus operators.
  *
  * CONTRACT (every operator that returns a pinned frame): the returned
  * frame is already computed and cached (MEMORY_AND_DISK_SER), and its
  * plan is one `LogicalRDD` node, so downstream plans read
  * `InMemoryRelation -> Scan ExistingRDD` instead of the operator's
  * subtree. The caller releases it with `unpersist(false)` once consumed.
  * A lost cache block recomputes from RDD lineage; nothing hard-fails if
  * the pin is released early. The operator's internal pins are released
  * before it returns, on every exit path, including a failed action. */
object Pin {

  private val Level = StorageLevel.MEMORY_AND_DISK_SER

  /** Computes `df` once and returns it pinned, with its row count. The
    * upstream plan is rendered once (one SQL execution); materializing
    * the one-node frame is a single job. Because the cache reports the
    * materialized size, the planner broadcasts a small pin on its own. */
  def apply(df: DataFrame): (DataFrame, Long) = {
    val frame = LineageCut(df).persist(Level)
    try (frame, LineageCut.count(frame))
    catch { case t: Throwable => frame.unpersist(false); throw t }
  }

  /** Runs `body` with a scope for internal pins: every frame pinned or
    * held through the scope is released when `body` exits, normally or by
    * throwing. Pin an operator's result with [[Pin.apply]] inside `body`,
    * so it materializes while the internal pins are still cached. */
  def scoped[T](body: Scope => T): T = {
    val scope = new Scope
    try body(scope) finally scope.held.foreach(_.unpersist(false))
  }

  final class Scope private[Pin] {
    private[Pin] val held = scala.collection.mutable.ArrayBuffer.empty[DataFrame]

    /** [[Pin.apply]], released when the scope exits. */
    def apply(df: DataFrame): (DataFrame, Long) = {
      val p = Pin(df)
      held += p._1
      p
    }

    /** `projection` of `input`, pinned unless `input` is already cached:
      * re-deriving a narrow projection from the caller's cache is cheaper
      * than writing a second copy of it into the block manager. */
    def unlessCached(input: DataFrame, projection: DataFrame): DataFrame =
      if (input.storageLevel != StorageLevel.NONE) projection
      else apply(projection)._1

    /** Takes over the release of a frame another operator returned pinned. */
    def hold(pinned: DataFrame): DataFrame = { held += pinned; pinned }

    /** [[apply]] for a frame that supersedes `prev` (the next value of a
      * loop-carried frame, or a pin that reads `prev` and is its only
      * reader): pins `df`, then releases `prev` if this scope holds it. */
    def step(prev: DataFrame, df: DataFrame): DataFrame = {
      val next = apply(df)._1
      if (held.contains(prev)) { held -= prev; prev.unpersist(false) }
      next
    }

    /** Hands a frame this scope holds to the caller, who releases it. */
    def handOff(pinned: DataFrame): DataFrame = { held -= pinned; pinned }
  }
}
