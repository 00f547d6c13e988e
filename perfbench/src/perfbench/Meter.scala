package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Task-metric totals for one measured span. */
final case class Cost(wallS: Double, cpuS: Double, shuffleMb: Double,
                      spillMb: Double, gcS: Double, jobs: Long, peakCacheMb: Double)

/**
 * Sums executor task metrics and tracks block-manager storage for the whole
 * session. Spans run one at a time (closed loop, one job group at a time), so
 * a span's cost is the difference of two snapshots taken around it — this
 * also catches jobs a stage launches from its own threads, which do not
 * inherit the caller's job group.
 */
final class Meter(sc: SparkContext) extends SparkListener {
  private var cpuNs, shuffleBytes, spillBytes, gcMs, jobs = 0L
  @volatile private var peakBytes = 0L

  sc.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      cpuNs += m.executorCpuTime
      shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      spillBytes += m.diskBytesSpilled
      gcMs += m.jvmGCTime
    }
  }

  /** Block-manager storage memory in use (cached blocks and broadcasts). The
    * memory manager is `private[spark]` in Scala but public in bytecode. */
  private val memoryManager = {
    val env = org.apache.spark.SparkEnv.get
    env.getClass.getMethod("memoryManager").invoke(env)
  }
  private val storageUsed = memoryManager.getClass.getMethod("storageMemoryUsed")
  private def storedBytes: Long = storageUsed.invoke(memoryManager).asInstanceOf[Long]

  private val sampler = new Thread(() => while (true) {
    peakBytes = math.max(peakBytes, storedBytes)
    Thread.sleep(5)
  }, "perfbench-storage-sampler")
  sampler.setDaemon(true)
  sampler.start()

  /** Waits until every event posted so far has reached this listener. The
    * bus is `private[spark]` in Scala but public in bytecode. */
  def drain(): Unit = {
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }

  private final case class Snap(t: Long, cpu: Long, shuffle: Long, spill: Long, gc: Long, jobs: Long)

  private def snap(): Snap = synchronized {
    Snap(System.nanoTime(), cpuNs, shuffleBytes, spillBytes, gcMs, jobs)
  }

  /** Waits (at most 3 s) until storage memory has not changed for 300 ms,
    * so that broadcasts the cleaner frees after the previous span's GC are
    * gone before this span's peak starts counting. */
  private def settle(): Unit = {
    val deadline = System.nanoTime() + 3000000000L
    var last = storedBytes
    var stableSince = System.nanoTime()
    while (System.nanoTime() - stableSince < 300000000L && System.nanoTime() < deadline) {
      Thread.sleep(20)
      val now = storedBytes
      if (now != last) { last = now; stableSince = System.nanoTime() }
    }
  }

  /** Runs `body` as one span under job group `group` and returns its cost. */
  def span[A](group: String)(body: => A): (A, Cost) = {
    drain()
    settle()
    peakBytes = storedBytes
    sc.setJobGroup(group, group)
    val s0 = snap()
    val out = try body finally sc.clearJobGroup()
    val t1 = System.nanoTime()
    drain()
    val s1 = snap()
    val peak = math.max(peakBytes, storedBytes)
    (out, Cost((t1 - s0.t) / 1e9, (s1.cpu - s0.cpu) / 1e9, (s1.shuffle - s0.shuffle) / 1e6,
      (s1.spill - s0.spill) / 1e6, (s1.gc - s0.gc) / 1e3, s1.jobs - s0.jobs, peak / 1e6))
  }
}
