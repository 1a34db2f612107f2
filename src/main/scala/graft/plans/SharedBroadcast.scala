package graft.plans

import scala.reflect.ClassTag
import org.apache.spark.SparkContext
import org.apache.spark.broadcast.Broadcast

/** One broadcast per (SparkContext, value): every plan that ships the
  * same constant value (a `CrfModel`, the alias index) to the executors
  * reuses the broadcast the first such plan made, instead of serializing
  * the value again per call.
  *
  * Reuse is what keeps executor state warm across queries: each broadcast
  * deserializes to a new object on an executor, and `CrfDecoder.forModel`
  * keys its per-thread decoder (and its contribution table) by the model
  * object, so a broadcast per query restarts every executor's decoder cold.
  * Two plans over one value now carry the same broadcast, so they are
  * `sameResult` and the session's cache matches across them.
  *
  * Values are keyed by identity (a model's structural hash walks every
  * weight). A stopped context is never handed its dead broadcast: the entry
  * is replaced, and `SparkContext.broadcast` refuses a stopped context.
  * At most one broadcast is retained per value, and at most [[Retained]]
  * values: the least recently asked-for one drops out first. A dropped
  * broadcast is not destroyed — plans that hold it keep working, and Spark's
  * `ContextCleaner` frees it once none does.
  */
object SharedBroadcast {
  val Retained = 8

  private final class Entry(val sc: SparkContext, val value: AnyRef, val bc: Broadcast[_])

  /** Most recently asked-for first; guarded by this object's lock. */
  private var entries = List.empty[Entry]

  def apply[T <: AnyRef: ClassTag](sc: SparkContext, value: T): Broadcast[T] = synchronized {
    val (same, others) = entries.partition(_.value eq value)
    val entry = same.find(e => (e.sc eq sc) && !sc.isStopped)
      .getOrElse(new Entry(sc, value, sc.broadcast(value)))
    entries = (entry :: others).take(Retained)
    entry.bc.asInstanceOf[Broadcast[T]]
  }

  /** The number of values whose broadcast is retained. */
  private[graft] def retained: Int = synchronized(entries.length)
}
