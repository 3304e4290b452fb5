package graft

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.{GraftSqlBridge, SparkSession}

/** Shuffle-write bytes of the stages that complete while `f` runs. The
  * listener bus is drained before the listener is added (so no earlier
  * job's stages count) and again before the total is read (so none of
  * `f`'s stages is missed); the listener is always removed. */
object ShuffleMeter {
  def apply[T](spark: SparkSession)(f: => T): (T, Long) = {
    val sc = spark.sparkContext
    val bytes = new AtomicLong(0L)
    val listener = new SparkListener {
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        bytes.addAndGet(s.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
    }
    GraftSqlBridge.drainListenerBus(sc)
    sc.addSparkListener(listener)
    try {
      val r = f
      GraftSqlBridge.drainListenerBus(sc)
      (r, bytes.get())
    } finally sc.removeSparkListener(listener)
  }
}
