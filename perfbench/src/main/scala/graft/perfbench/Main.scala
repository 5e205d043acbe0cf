package graft.perfbench

import org.apache.spark.sql.SparkSession

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** Benchmark process: one workload, one seed, one measured section.
  *
  * Usage: Main --workload <kg_build|sssom_ops|query_suite> --seed <n>
  *   --seconds <s> --trace <0|1> --work <dir> --t0-ms <epoch ms>
  *   [--tables <dir>] [--spans <file>]
  * or:    Main --train 1 --work <dir> --tables <dir>
  *
  * Prints, as its last stdout line, one JSON object with the measured
  * metrics, the attempted/failed operation counts and the output checks;
  * perfbench/run.py turns it into the benchmark's result line.
  */
object Main {

  /** The workload `name` at its benchmark size, or at a small size for
    * class-data training.
    */
  def workload(name: String, seed: Long, work: String, tables: => String,
      small: Boolean): Workload = name match {
    case "kg_build" => new KgBuild(seed, work, nConv = if (small) 50L else 500L)
    case "sssom_ops" => new SssomOps(seed, work, pairs = if (small) 200 else 4000)
    case "query_suite" => new QuerySuite(seed, work, tables)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  val Workloads: Seq[String] = Seq("kg_build", "sssom_ops", "query_suite")

  /** Class-data training: set-up, a warm pass and the checks of every
    * workload at a small size, so that the JVM, started with
    * -XX:ArchiveClassesAtExit, archives the classes a benchmark run loads.
    */
  def train(work: String, tables: String): Unit = Workloads.foreach { name =>
    val w = workload(name, 0L, s"$work/$name", tables, small = true)
    val t0 = System.nanoTime()
    val spark = Sessions.start(4, w)
    try { w.prepare(spark); w.warm(spark); w.check(spark) }
    finally spark.stop()
    System.err.println(f"[perfbench] trained $name in ${(System.nanoTime() - t0) / 1e9}%.1f s")
  }

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    if (args.contains("train")) return train(args("work"), args("tables"))
    val seed = args("seed").toLong
    val work = args("work")
    val t0Ms = args("t0-ms").toLong
    val seconds = args("seconds").toDouble
    val workload = Main.workload(args("workload"), seed, work, args("tables"), small = false)

    // phase times on stderr, seconds since process start
    def mark(name: String): Unit =
      System.err.println(f"[perfbench] ${(System.currentTimeMillis() - t0Ms) / 1000.0}%.1f s: $name")
    var spark = Sessions.start(4, workload)
    mark("session started")
    workload.prepare(spark)
    workload.warm(spark)
    mark("warm pass done")
    val setupS = (System.currentTimeMillis() - t0Ms) / 1000.0
    if (args("trace") == "1") {
      // a traced run reports no set-up time: one traced pass warms the
      // traced path as the warm pass did the untraced one, so the two are
      // compared at the same stage of warming
      val tr = new Tracer(spark.sparkContext)
      workload.traced(spark, tr)
      tr.close()
      mark("traced warm-up done")
    }
    val start = System.nanoTime()
    val deadline = start + (seconds * 1e9).toLong

    val passes = mutable.ArrayBuffer.empty[PassResult]
    val metrics = mutable.LinkedHashMap.empty[String, Double]
    if (args("trace") == "0") {
      // the live heap is read after a full collection at the end of each
      // timed pass, outside the pass timings
      var peakMb = 0.0
      do {
        passes += workload.pass(spark)
        peakMb = math.max(peakMb, LiveHeap.mb())
      } while (System.nanoTime() < deadline)
      metrics("setup_s") = setupS
      metrics("items_per_s") = passes.head.items / Stats.median(passes.map(_.seconds).toSeq)
      metrics("live_heap_peak_mb") = peakMb
    } else {
      val spans = new StringBuilder
      // alternate untraced and traced passes until `until`, at least one each
      def phase(s: SparkSession, until: Long): (Seq[Double], Seq[Double], Map[String, Double]) = {
        val untraced = mutable.ArrayBuffer.empty[Double]
        val traced = mutable.ArrayBuffer.empty[Double]
        val layers = mutable.ArrayBuffer.empty[Map[String, Double]]
        do {
          val p = workload.pass(s)
          passes += p
          untraced += p.seconds
          val tr = new Tracer(s.sparkContext)
          val (tp, values) = workload.traced(s, tr)
          spans.append(tr.toJson).append('\n')
          tr.close()
          passes += tp
          traced += tp.seconds
          layers += values
        } while (System.nanoTime() < until)
        val medians = layers.flatMap(_.keys).distinct.map { k =>
          k -> Stats.median(layers.flatMap(_.get(k)).toSeq)
        }.toMap
        (untraced.toSeq, traced.toSeq, medians)
      }
      val fourUntil = if (workload.oneThreadLayers.nonEmpty) start + (deadline - start) / 2 else deadline
      val (u4, t4, layers4) = phase(spark, fourUntil)
      metrics ++= layers4
      metrics("trace_overhead_s") = Stats.median(t4) - Stats.median(u4)
      val sec1 =
        if (workload.oneThreadLayers.isEmpty) None
        else {
          spark.stop()
          spark = Sessions.start(1, workload)
          val (u1, _, layers1) = phase(spark, deadline)
          workload.oneThreadLayers.foreach(k => layers1.get(k).foreach(v => metrics(s"${k}_1t") = v))
          Some(Stats.median(u1))
        }
      metrics ++= workload.derived(Stats.median(u4), sec1)
      args.get("spans").foreach { p =>
        Option(Paths.get(p).getParent).foreach(Files.createDirectories(_))
        Files.write(Paths.get(p), spans.result().getBytes(StandardCharsets.UTF_8))
      }
    }

    mark("timed section done")
    // the checks are the benchmark's own work, outside every measurement:
    // plain plans, one shuffle partition per thread
    spark.conf.set("spark.sql.shuffle.partitions", spark.sparkContext.defaultParallelism.toLong)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    val checks = workload.check(spark)
    mark("checks done")
    spark.stop()

    val attempted = passes.map(_.attempted).sum
    val failed = math.min(attempted, passes.map(_.failed).sum + checks.count(!_.ok))
    val failures = passes.flatMap(_.failures).distinct
    val q = QuerySuite.jsonString _
    val out = new StringBuilder("{")
    out.append(s""""attempted":$attempted,"failed":$failed,""")
    out.append(s""""passes":${passes.size},"pass_seconds":""")
    out.append(passes.map(_.seconds).mkString("[", ",", "],"))
    out.append(s""""items":${passes.head.items},""")
    out.append(""""checks":""").append(checks.map(c =>
      s"""{"name":${q(c.name)},"ok":${c.ok},"detail":${q(c.detail)}}""").mkString("[", ",", "],"))
    out.append(""""failures":""").append(failures.map(q).mkString("[", ",", "],"))
    out.append(""""metrics":""").append(metrics.map { case (k, v) =>
      s"${q(k)}:${if (v.isNaN || v.isInfinite) "null" else v.toString}"
    }.mkString("{", ",", "}"))
    out.append("}")
    println(out.result())
  }
}
