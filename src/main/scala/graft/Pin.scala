package graft

import org.apache.spark.sql.DataFrame

/** The one pin primitive. Pinning a frame means an eager local checkpoint:
  * its rows are computed once into executor block storage and its lineage
  * is cut, so every later read re-reads those blocks instead of re-running
  * the plan. Every pin in the engine goes through [[apply]]; releasing one
  * is `unpersist(blocking = false)` on its checkpointed RDD, after which
  * nothing may read the frame again.
  *
  * Three ways to pin, by who frees the blocks:
  *  - [[apply]] alone: the caller (or driver GC) does;
  *  - [[rounds]]: a fixed-round loop frees each round once the next one is
  *    materialized, and the pins a round's step made once that round is;
  *  - inside [[scope]]: everything pinned on the thread is freed when the
  *    scope's body exits ([[blockingScope]]: and the blocks are gone
  *    before it returns).
  * Convergence loops whose round count is data-dependent call [[release]]
  * on their own previous state. */
object Pin {

  // pins made inside the innermost open scope of THIS thread; null when
  // none is open. Deliberately not inheritable: a thread started inside a
  // scope pins outside it, so one stream's scope never frees a frame
  // another thread is still reading.
  private val open = new ThreadLocal[scala.collection.mutable.ArrayBuffer[DataFrame]]

  /** Pin `df`: one job computes it into block storage, and the returned
    * frame reads those blocks. */
  def apply(df: DataFrame): DataFrame = {
    val pinned = df.localCheckpoint(true)
    val scoped = open.get
    if (scoped != null) scoped += pinned
    pinned
  }

  /** Drop the blocks of a frame [[apply]] returned. A frame that is not a
    * pin (a lazy plan over one, say) is left alone. */
  def release(df: DataFrame): Unit = unpin(df, blocking = false)

  /** [[release]]; `blocking` waits until every executor has removed the
    * blocks. */
  private def unpin(df: DataFrame, blocking: Boolean): Unit = df.queryExecution.logical match {
    case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.unpersist(blocking)
    case _ =>
  }

  /** `n` rounds of `step` (called with the previous state and the 0-based
    * round index), each round's frame pinned. A round's pin is released
    * once the next round's is materialized, so at most two round pins are
    * live at a time and only the last survives. Pins the step makes itself
    * are released as soon as its round's pin is materialized, so a step
    * must not hand one to a later round. Round pins register with an
    * enclosing [[scope]]. `init` is never released: the loop did not pin
    * it. */
  def rounds(init: DataFrame, n: Int)(step: (DataFrame, Int) => DataFrame): DataFrame =
    (0 until n).foldLeft(init) { (prev, r) =>
      val next = releasing(step(prev, r), blocking = false)(apply)
      if (r > 0) release(prev)
      next
    }

  /** Run `body`, then release every pin this thread made inside it, also
    * when it throws. For bodies whose results leave as side effects (a
    * micro-batch's sink writes), never for ones returning a frame. */
  def scope(body: => Unit): Unit = releasing(body, blocking = false)(identity)

  /** [[scope]] whose release waits for the block removals, so none of
    * them runs into whatever the caller does next (the next timed pass of
    * a benchmark, say). */
  def blockingScope(body: => Unit): Unit = releasing(body, blocking = true)(identity)

  /** Run `body` with this thread's pins collected, then `finish` on its
    * result outside the collection (its pins go to the enclosing scope),
    * then release the collected pins — also when either throws. */
  private def releasing[A, B](body: => A, blocking: Boolean)(finish: A => B): B = {
    val outer = open.get
    val mine = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    open.set(mine)
    try finish(try body finally open.set(outer))
    finally mine.foreach(unpin(_, blocking))
  }
}
