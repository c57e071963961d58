package perfbench

import java.util.concurrent.{Callable, Executors, ThreadFactory}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.unsafe.types.UTF8String

import graft.core.Geo
import graft.functions.GraftKernels
import graft.operators.GeoQueries
import graft.sources.Footprints

/** Per-call timings of the `core` and `functions` kernels on generated
  * inputs, and a fixed host calibration probe. Each figure is the median of
  * several batches, so one slow batch does not move it. */
object Probes {
  @volatile private var sink = 0L

  /** Median over 7 batches of nanoseconds per call of `f(i)`, i = 0 until
    * calls, after batches that warm the JIT for at least 0.3 s. */
  private def nsPerCall(calls: Int)(f: Int => Long): Double = {
    def batch(): Double = {
      val t = System.nanoTime()
      var j = 0
      while (j < calls) { sink += f(j); j += 1 }
      (System.nanoTime() - t).toDouble / calls
    }
    val warmUntil = System.nanoTime() + 300000000L
    while (System.nanoTime() < warmUntil) batch()
    Stats.median((1 to 7).map(_ => batch()))
  }

  def kernels(seed: Long): Map[String, Double] = {
    val rnd = new java.util.Random(seed)
    val wkts = Footprints.boxes.map(_.wkt).toArray
    val pts = Array.fill(4096)((rnd.nextInt(1800) - 900, rnd.nextInt(3600) - 1800))
    val vocab = Seq("the", "data", "page", "web", "crawl", "tile", "cell", "join", "geo", "row")
    val texts = Array.fill(512)(UTF8String.fromString(
      Seq.fill(24 + rnd.nextInt(64))(vocab(rnd.nextInt(vocab.size))).mkString(" ")))
    val cents = Array.fill(16)(Array.fill(64)(rnd.nextInt(256).toLong))
    val vecs = Array.fill(1024)(ArrayData.toArrayData(Array.fill(64)(rnd.nextInt(256).toLong)))
    Map(
      "core.cover_ns" -> nsPerCall(wkts.length * 32)(i =>
        Geo.cover(wkts(i % wkts.length), GeoQueries.JoinLevel).length),
      "core.contains_point_ns" -> nsPerCall(pts.length * 16) { i =>
        val (lat, lon) = pts(i % pts.length)
        if (Geo.containsPoint(wkts(i % wkts.length), lat, lon)) 1L else 0L
      },
      "functions.shingle_hashes_ns" -> nsPerCall(texts.length * 2)(i =>
        GraftKernels.shingleHashes(texts(i % texts.length)).numElements()),
      "functions.argmin_l2_ns" -> nsPerCall(vecs.length * 16)(i =>
        GraftKernels.argminL2(vecs(i % vecs.length), cents).toLong))
  }

  /** host.cpu_loop_ms: a fixed single-thread integer loop; host.one_stage_job_ms:
    * a fixed one-stage Spark job. Neither depends on the program. */
  def host(spark: SparkSession, cpus: Int): Map[String, Double] = {
    def loop(): Double = {
      val t = System.nanoTime()
      var x = 88172645463325252L
      var i = 0
      while (i < 50000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
      sink += x
      (System.nanoTime() - t) / 1e6
    }
    def job(): Double = {
      val t = System.nanoTime()
      sink += spark.sparkContext.range(0L, 4000000L, 1L, cpus).map(_ * 3).reduce(_ + _)
      (System.nanoTime() - t) / 1e6
    }
    loop(); job()
    Map("host.cpu_loop_ms" -> Stats.median((1 to 3).map(_ => loop())),
      "host.one_stage_job_ms" -> Stats.median((1 to 5).map(_ => job())))
  }

  /** Fixed work of the speed probe: chunks of mixed indices, each updating
    * a 256 KiB table of its thread, as a hash aggregate does. */
  private val ProbeChunks = 384
  private val ProbeChunkLen = 1 << 17
  private val ProbeTableMask = (1 << 16) - 1

  /** A fixed parallel CPU-and-memory task that does not touch the program:
    * `threads` threads pull chunks of one fixed loop, so its wall time is
    * its fixed work over the capacity the host gives this process at the
    * moment, as for a Spark stage. Call `shutdown` when done. */
  final class SpeedProbe(threads: Int) {
    private val pool = Executors.newFixedThreadPool(threads, new ThreadFactory {
      def newThread(r: Runnable): Thread = {
        val t = new Thread(r, "perfbench-speed-probe"); t.setDaemon(true); t
      }
    })
    private val tables = Array.fill(threads)(new Array[Int](ProbeTableMask + 1))

    private def chunk(table: Array[Int], c: Int): Long = {
      var acc = 0L
      var i = c.toLong * ProbeChunkLen
      val end = i + ProbeChunkLen
      while (i < end) {
        var x = i * 0x9E3779B97F4A7C15L
        x ^= x >>> 29; x *= 0xBF58476D1CE4E5B9L; x ^= x >>> 32
        val slot = (x & ProbeTableMask).toInt
        table(slot) += 1
        if (table(slot) % 7 == 0) acc += x
        i += 1
      }
      acc
    }

    /** Seconds for one pass of the fixed work. */
    def apply(): Double = {
      val next = new AtomicInteger(0)
      val t = System.nanoTime()
      val fs = (0 until threads).map { w =>
        pool.submit(new Callable[Long] {
          def call(): Long = {
            var acc = 0L
            var c = next.getAndIncrement()
            while (c < ProbeChunks) { acc += chunk(tables(w), c); c = next.getAndIncrement() }
            acc
          }
        })
      }
      fs.foreach(f => sink += f.get())
      (System.nanoTime() - t) / 1e9
    }

    def shutdown(): Unit = pool.shutdownNow()
  }
}
