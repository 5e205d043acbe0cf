package graft.perfbench

import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory

/** Session settings shared by the workloads. */
object Sessions {

  /** One local session at `threads` threads for workload `w`: AQE,
    * whole-stage codegen and the shuffle partition count are the
    * workload's.
    */
  def start(threads: Int, w: Workload): SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master(s"local[$threads]")
      .appName(s"graft-perfbench-$threads")
      .config("spark.sql.shuffle.partitions", w.shufflePartitions(threads).toString)
      .config("spark.default.parallelism", threads.toString)
      .config("spark.sql.adaptive.enabled", w.aqe.toString)
      .config("spark.sql.codegen.wholeStage", w.codegen.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

/** Live driver heap: used heap right after a full collection, in MiB. The
  * first collection lets Spark's ContextCleaner release the blocks of
  * unreachable checkpointed RDDs; the later ones reclaim them, so the
  * figure does not depend on how far the cleaner thread had got.
  */
object LiveHeap {
  private def used(): Double =
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

  /** Collects until the used heap stops falling (by less than 0.5 MiB, at
    * most five rounds 300 ms apart): on a loaded machine the cleaner
    * thread can take longer than one round.
    */
  def mb(): Double = {
    System.gc()
    var last = used()
    var rounds = 0
    var falling = true
    while (falling && rounds < 5) {
      Thread.sleep(300)
      System.gc()
      val now = used()
      falling = last - now >= 0.5
      last = now
      rounds += 1
    }
    last
  }
}

/** Bytes allocated so far by the calling thread (HotSpot's per-thread
  * allocation counter).
  */
object DriverAlloc {
  private val threads = ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]

  def bytes(): Long = threads.getThreadAllocatedBytes(Thread.currentThread().getId)
}

/** Outcome of one timed operation chain. */
final case class PassResult(seconds: Double, items: Long, attempted: Int,
    failed: Int, failures: Seq[String] = Nil)

object Clock {
  def time[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
}
