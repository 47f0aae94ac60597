package org.apache.spark

import org.apache.spark.shuffle.{ShuffleHandle, ShuffleReadMetricsReporter, ShuffleReader,
  ShuffleWriteMetricsReporter, ShuffleWriter}
import org.apache.spark.shuffle.sort.SortShuffleManager

/** Test-only shuffle manager: the first attempt of every task that writes
  * or reads a shuffle fails as it opens the shuffle, before it computes a
  * row; the retry runs normally. Set it as `spark.shuffle.manager` on a
  * `local[n,2]` master, whose two attempts per task let every job finish.
  */
class FailFirstAttemptShuffleManager(conf: SparkConf) extends SortShuffleManager(conf) {
  protected def failFirst(context: TaskContext): Unit =
    if (context.attemptNumber() == 0)
      throw new RuntimeException(FailFirstAttemptShuffleManager.Message)

  override def getWriter[K, V](handle: ShuffleHandle, mapId: Long, context: TaskContext,
      metrics: ShuffleWriteMetricsReporter): ShuffleWriter[K, V] = {
    failFirst(context)
    super.getWriter(handle, mapId, context, metrics)
  }

  override def getReader[K, C](handle: ShuffleHandle, startMapIndex: Int, endMapIndex: Int,
      startPartition: Int, endPartition: Int, context: TaskContext,
      metrics: ShuffleReadMetricsReporter): ShuffleReader[K, C] = {
    failFirst(context)
    super.getReader(handle, startMapIndex, endMapIndex, startPartition, endPartition,
      context, metrics)
  }
}

/** [[FailFirstAttemptShuffleManager]] failing at the other end: the first
  * attempt of such a task runs to completion — every row computed, every
  * block it caches stored — and only then fails, so its retry finds those
  * blocks cached.
  */
class FailFirstAttemptAtEndShuffleManager(conf: SparkConf)
    extends FailFirstAttemptShuffleManager(conf) {
  override protected def failFirst(context: TaskContext): Unit =
    context.addTaskCompletionListener[Unit] { ctx =>
      if (ctx.attemptNumber() == 0 && !ctx.isFailed())
        throw new RuntimeException(FailFirstAttemptShuffleManager.Message)
    }
}

object FailFirstAttemptShuffleManager { val Message = "injected first-attempt failure" }
