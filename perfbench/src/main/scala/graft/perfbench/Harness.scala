package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.{SessionMemo, SparkEntry}
import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side: one client calling the engine's public entry
  * points in a closed loop, one call at a time.
  *
  *   1. Set up once: session build plus warm-up. The JVM is fresh, so
  *      setup_s, timed from JVM start, carries the JVM-wide one-time costs
  *      (class loading, codegen, the RocksDB native library) a user pays.
  *   2. Run one untimed check pass that writes every output for the
  *      output check, then [[WarmPasses]] untimed passes like the timed
  *      ones, so the JIT has settled on the workload's code.
  *   3. Run `passes` timed passes. Each starts memo-cold; within a pass
  *      calls share memos as the engine designs. With `--trace 1` every
  *      second pass has the [[Tracer]] attached, so traced and untraced
  *      passes interleave and their difference is the tracing overhead.
  *   4. Measure the heap retained after a full GC.
  *
  * Raw times and records go to `--out` as JSON; run.py computes the
  * metrics. Usage: Harness --workload W --seed S --passes P --trace 0|1
  * --data DIR --out FILE --check-dir DIR --cpus N
  */
object Harness {
  /** Untimed passes before the timed ones. After the check pass alone the
    * first timed pass still ran 15-20% slower than the later ones. */
  val WarmPasses = 1

  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  /** Epoch milliseconds at nanosecond resolution, comparable with the
    * millisecond times Spark's listener events carry. */
  private def nowMs(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  private def cpuSeconds(): Double =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
      .getProcessCpuTime / 1e9

  /** The kind of a thread by its name: the JVM's JIT compiler threads, its
    * garbage collector threads, or the engine (every other thread). */
  private def threadKind(name: String): String =
    if (name.startsWith("C1 Compiler") || name.startsWith("C2 Compiler") ||
      name.startsWith("Sweeper")) "jit"
    else if (name.startsWith("GC Thread") || name.startsWith("G1 ")) "gc"
    else "engine"

  /** Kind and CPU seconds of every live thread of this process, by thread
    * id, from /proc/self/task/<tid>/stat (utime + stime, 10 ms ticks). */
  private def threadCpu(): Map[String, (String, Double)] =
    new java.io.File("/proc/self/task").listFiles.toSeq.flatMap { t =>
      try {
        val stat = new String(Files.readAllBytes(Paths.get(t.getPath, "stat")))
        val rest = stat.substring(stat.lastIndexOf(')') + 2).split(' ')
        Some(t.getName -> (threadKind(stat.substring(stat.indexOf('(') + 1, stat.lastIndexOf(')'))),
          (rest(11).toLong + rest(12).toLong) / 100.0))
      } catch { case _: java.io.IOException => None } // the thread ended meanwhile
    }.toMap

  /** CPU seconds each kind of thread used between two [[threadCpu]]
    * snapshots. A thread that ended in between is not counted. */
  private def cpuByKind(before: Map[String, (String, Double)],
      after: Map[String, (String, Double)]): Map[String, Double] =
    Seq("engine", "jit", "gc").map(_ -> 0.0).toMap ++ after.toSeq.map {
      case (tid, (kind, cpu)) => kind -> (cpu - before.get(tid).map(_._2).getOrElse(0.0))
    }.groupMapReduce(_._1)(_._2)(_ + _)

  /** The session settings of the engine's `graft.Bench`, with N cores. */
  def sessionConf(cpus: Int): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.join.preferSortMergeJoin" -> "false",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false")

  private def session(cpus: Int): SparkSession = {
    val b = SparkSession.builder()
    sessionConf(cpus).foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The warm-up `graft.Bench` does before its first timed query: codegen
    * and class loading via the flagship query, then the RocksDB state
    * store's first use. */
  private def warmUp(spark: SparkSession, data: String): Unit = {
    graft.operators.Relational.customerFeatures(spark, data)
      .write.format("noop").mode("overwrite").save()
    graft.streaming.EventsStream.warmStateStore(spark)
    SessionMemo.clearAllForSession(spark)
  }

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)
  private def toJson(v: Any): String = json.writeValueAsString(v)

  private def message(e: Throwable): String =
    s"${e.getClass.getName}: ${String.valueOf(e.getMessage).linesIterator.take(3).mkString(" ")}"

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val workload = Workloads.all(a("workload"))
    val seed = a("seed").toLong
    val passes = a("passes").toInt
    val trace = a("trace") == "1"
    val data = a("data")
    val checkDir = a("check-dir")
    val cpus = a("cpus").toInt

    val spark = session(cpus)
    warmUp(spark, data)
    val setupS = (nowMs() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

    // untimed check pass: every output written for run.py's check
    SessionMemo.clearAllForSession(spark)
    Files.createDirectories(Paths.get(checkDir))
    val digests = mutable.LinkedHashMap[String, String]()
    workload.calls.foreach { call =>
      try call.run(spark, data).record(checkDir, call.name, call.digest)
        .foreach(digests(call.name) = _)
      catch {
        case e: Throwable =>
          Files.writeString(Paths.get(s"$checkDir/${call.name}_FAILED"), message(e))
      }
    }
    val names = workload.calls.map(_.name).toSet
    Files.writeString(Paths.get(s"$checkDir/oracle_sql.json"),
      toJson(SparkEntry.oracleSql.filter { case (k, _) => names(k) }))
    Files.writeString(Paths.get(s"$checkDir/run_manifest.json"),
      toJson(workload.calls.map(_.name)))
    Files.writeString(Paths.get(s"$checkDir/digests.json"), toJson(digests))

    val tracer = new Tracer(spark)
    val rng = new scala.util.Random(seed)
    val passRecords = (-WarmPasses until passes).map { p =>
      val traced = trace && p % 2 == 1
      SessionMemo.clearAllForSession(spark)
      System.gc() // every pass starts from the same heap, not the last pass's garbage
      val units = rng.shuffle(workload.units)
      if (traced) tracer.attach()
      val threads0 = threadCpu()
      val cpu0 = cpuSeconds()
      val t0 = nowMs()
      val calls = units.flatten.map { call =>
        val start = nowMs()
        var built = start
        val error = try {
          val out = call.run(spark, data)
          built = nowMs()
          out.consume()
          None
        } catch { case e: Throwable => Some(message(e)) }
        val end = nowMs()
        if (built == start) built = end
        val storage = if (traced) {
          val infos = spark.sparkContext.getRDDStorageInfo
          Map("storage_mb" -> infos.map(i => i.memSize + i.diskSize).sum / 1048576.0,
            "cached_rdds" -> infos.length)
        } else Map.empty[String, Any]
        Map("name" -> call.name, "start" -> start, "built" -> built, "end" -> end,
          "error" -> error) ++ storage
      }
      val t1 = nowMs()
      val cpu1 = cpuSeconds()
      val byKind = cpuByKind(threads0, threadCpu())
      if (traced) tracer.detach()
      Map("traced" -> traced, "start" -> t0, "end" -> t1, "process_cpu_s" -> (cpu1 - cpu0),
        "cpu_s" -> byKind("engine"), "jit_cpu_s" -> byKind("jit"), "gc_cpu_s" -> byKind("gc"),
        "calls" -> calls)
    }.drop(WarmPasses)

    System.gc(); Thread.sleep(200); System.gc()
    val retainedMb =
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

    val env = Map(
      "cpus" -> cpus,
      "warm_passes" -> WarmPasses,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "spark" -> org.apache.spark.SPARK_VERSION,
      "scala" -> scala.util.Properties.versionNumberString,
      "java" -> System.getProperty("java.version"),
      "session_conf" -> sessionConf(cpus).toMap)
    val result = Map(
      "env" -> env, "setup_s" -> setupS, "passes" -> passRecords,
      "retained_heap_mb" -> retainedMb,
      "trace" -> (if (trace) tracer.toMap else Map.empty))
    Files.writeString(Paths.get(a("out")), toJson(result))
    spark.stop()
    sys.exit(0)
  }
}
