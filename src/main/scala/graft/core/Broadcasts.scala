package graft.core

import java.lang.ref.WeakReference

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.broadcast.Broadcast

/** Registry for long-lived driver-created broadcasts (the partitioned
  * triangle blooms in [[graft.queries.Graph]]) so measurement harnesses can
  * release them deterministically.
  *
  * Why it exists: a `Broadcast[Array[BloomFilter]]` created during plan
  * construction stays executor-resident until ContextCleaner proves the
  * stub dead via GC — at >64M-edge corpora that is ~100 MB+ per triangles
  * invocation, and a repeated bench sweep can accumulate copies faster
  * than the asynchronous cleaner drains them. The returned DataFrame is
  * lazy, so the query itself cannot destroy the broadcast eagerly;
  * instead the creator registers it here and the harnesses
  * (Bench.quiesce, TriangleBloomProbe, perfbench) call [[drain]] after
  * each collect.
  *
  * Entries are held through [[WeakReference]]s, so this registry never
  * extends a broadcast's lifetime: outside a harness, once the plan that
  * captured the stub is unreachable, GC clears the referent and
  * ContextCleaner reclaims the executor-resident copies exactly as it
  * would without tracking (strong references would be an unbounded
  * driver leak in long-lived non-harness sessions).
  * Cleared entries are pruned on every [[track]] call.
  */
object Broadcasts {
  private val live =
    ArrayBuffer.empty[(WeakReference[Broadcast[_]], Long)]

  def track[T](b: Broadcast[T]): Broadcast[T] = synchronized {
    // A stub collected between track calls and before the next drain()
    // would otherwise fall back to the async ContextCleaner — the exact
    // nondeterministic window drain() exists to close.
    // Remove its blocks synchronously by id before forgetting the entry,
    // with the same best-effort guard as drain().
    live.filterInPlace { case (ref, id) =>
      val alive = ref.get != null
      if (!alive) {
        try org.apache.spark.graft.BroadcastBlocks.remove(id)
        catch { case scala.util.control.NonFatal(_) => () }
      }
      alive
    }
    live += ((new WeakReference[Broadcast[_]](b), b.id))
    b
  }

  /** Number of tracked broadcasts whose stubs are still strongly
    * reachable elsewhere (diagnostic; used by BroadcastsSpec). */
  def liveCount: Int = synchronized(live.count(_._1.get != null))

  /** Destroy every tracked broadcast's resources, deterministically.
    * Safe to call while no tracked plan is mid-execution (the harness
    * contract: call after the collect). A re-executed plan that still
    * references a destroyed broadcast would fail, which is the loud
    * behavior we want — the eager-built bloom would be stale against
    * changed data anyway. Entries whose stub GC'd between the collect
    * and this call cannot be `destroy()`ed, but leaving them to the
    * ASYNC ContextCleaner would let multi-hundred-MB bloom blocks
    * survive into the next timed run — their blocks are
    * removed synchronously BY ID instead, the same block-manager call
    * the cleaner makes. */
  def drain(): Unit = synchronized {
    live.foreach { case (ref, id) =>
      try {
        val b = ref.get
        if (b != null) b.destroy()
        else org.apache.spark.graft.BroadcastBlocks.remove(id)
      } catch { case scala.util.control.NonFatal(_) => () }
    }
    live.clear()
  }
}
