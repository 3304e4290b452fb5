package graft.tsdb

import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import org.apache.spark.sql.SparkSession

/** The reference's `shipper` SUBCOMMAND lifecycle (`main.go:47-77`,
  * `shipper.go:115-187`) around [[BlockShipper]]: a ticker loop that
  * ships every newly-closed 2-hour store partition as an immutable
  * native block, plus the graceful-shutdown contract — SIGTERM (or
  * `close()`) runs ONE FINAL ship before exiting (`closeShipper`,
  * `main.go:75`), so blocks that closed since the last tick are not
  * stranded until the next process start. Ship/marker idempotency is
  * [[BlockShipper]]'s; a failed tick counts into `errors` and the
  * ticker keeps running (the reference logs and continues).
  *
  * Driver-side orchestration only: each ship is a distributed
  * [[TsdbBlock.writeDistributed]] job. One daemon per store — the
  * reference's singleton shipper process shape. */
object ShipperDaemon {

  /** Running daemon handle: counters for tests/metrics + `close()`
    * (which performs the final ship). */
  final class Handle private[ShipperDaemon] (
      thread: Thread, stop: AtomicBoolean,
      /** blocks shipped by this daemon (ticks + final ship) */
      val shippedBlocks: AtomicLong,
      /** completed ship passes (incl. the initial and final ones) */
      val ticks: AtomicLong,
      /** ship passes that threw — the loop survives them */
      val errors: AtomicLong) {
    def close(): Unit = {
      stop.set(true); thread.interrupt(); thread.join(30000)
    }
  }

  /** Start the ship loop on a daemon thread; returns its [[Handle]].
    * `now` is injectable so tests (and backfills) control the
    * closed-window horizon. */
  def start(spark: SparkSession, storePath: String, blocksDir: String,
            tickMs: Long = 30000L,
            now: () => Long = () => System.currentTimeMillis()): Handle = {
    val stop = new AtomicBoolean(false)
    val nShipped = new AtomicLong(0)
    val nTicks = new AtomicLong(0)
    val nErrors = new AtomicLong(0)
    def ship(): Unit = {
      nTicks.incrementAndGet()
      try nShipped.addAndGet(
        BlockShipper.shipClosed(spark, storePath, blocksDir, now()).size.toLong)
      catch {
        case ie: InterruptedException => throw ie
        case scala.util.control.NonFatal(_) => nErrors.incrementAndGet()
      }
    }
    val thread = new Thread(() => {
      try {
        ship() // the reference ships pre-existing closed blocks at start
        while (!stop.get()) {
          Thread.sleep(tickMs)
          ship()
        }
      } catch {
        case _: InterruptedException => ()
      }
      // graceful shutdown: one final ship (closeShipper, main.go:75) —
      // runs whether the loop exited via stop flag or interrupt
      if (stop.get()) {
        Thread.interrupted() // clear the flag so Spark jobs can run
        ship()
      }
    })
    thread.setDaemon(true)
    thread.setName("graft-block-shipper")
    thread.start()
    new Handle(thread, stop, nShipped, nTicks, nErrors)
  }
}

/** CLI entry — the reference's `shipper` subcommand:
  * `runMain graft.ShipperMain <storePath> <blocksDir> [tickMs]
  * [--config=agni.yml]`. The config flag applies the reference's
  * remote-store YAML ([[GraftConfig]]) as s3a settings, so
  * `<blocksDir>` may be `s3a://bucket/...`. Runs until SIGTERM/SIGINT;
  * the shutdown hook performs the final ship before the JVM exits. */
object ShipperMain {
  def main(rawArgs: Array[String]): Unit = {
    val spark = graft.GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val (_, args) =
      GraftConfig.fromArgs(rawArgs, spark.sparkContext.hadoopConfiguration)
    val store = args(0)
    val blocks = args(1)
    val tickMs = if (args.length > 2) args(2).toLong else 30000L
    val h = ShipperDaemon.start(spark, store, blocks, tickMs)
    sys.addShutdownHook { h.close() } // final ship on SIGTERM
    println(s"SHIPPING $store -> $blocks every ${tickMs}ms")
    Thread.sleep(Long.MaxValue)
  }
}
