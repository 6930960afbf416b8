package osmbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import graft.HostContention
import graft.osm.Ingest
import org.apache.spark.sql.SparkSession

/** What every workload gets: the session, the run's knobs, the tracer,
  * the report and a private work directory. */
final case class Ctx(spark: SparkSession, seed: Long, seconds: Double,
                     tracer: Tracer, report: Report, work: Path,
                     nBuckets: Int) {
  /** The measured window, opened now. */
  def window(): Window = new Window(System.nanoTime() + (seconds * 1e9).toLong)

  /** Run `body` again with tracing off: the listeners removed, no span
    * kept and a fresh report, whose samples land in this one under
    * `untraced.` and whose checks count like any other. A traced run
    * uses it to measure the tracing overhead on the same seed in the
    * same JVM. */
  def untraced(body: Ctx => Unit): Unit = {
    tracer.detach(spark)
    val r = new Report
    try body(copy(tracer = new Tracer(false), report = r))
    finally report.absorb(r, "untraced.")
  }
}

/** A time-bounded loop that starts an operation only when at least half
  * of its expected duration still fits before the deadline: the median
  * of earlier operations of its kind, or `firstNs` before there are
  * any. A run then measures about `--seconds` on average, and a long
  * commit or extract overruns it by at most half its length. */
final class Window(deadlineNs: Long) {
  private val took = scala.collection.mutable.Map[String,
    scala.collection.mutable.ArrayBuffer[Long]]()

  def fits(kind: String, firstNs: Long): Boolean = {
    val est = took.get(kind).filter(_.nonEmpty).map { ts =>
      ts.sorted.apply((ts.size - 1) / 2)
    }.getOrElse(firstNs)
    System.nanoTime() + est / 2 <= deadlineNs
  }

  /** Run one operation of `kind`, recording how long it took. */
  def run[T](kind: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body
    finally took.getOrElseUpdate(kind,
      scala.collection.mutable.ArrayBuffer[Long]()) += System.nanoTime() - t0
  }
}

/** The benchmark JVM: one workload, one seed, one measured window.
  *
  * {{{
  * Main --workload serve|replicate --seed N --seconds S --trace 0|1
  *      --work DIR --out RAW.json [--spans SPANS.jsonl]
  * }}}
  *
  * Encodes the seeded source as a PBF once, loads it into a fresh store
  * [[Setups]] times (the median load is the set-up time),
  * runs the workload's closed loop for `--seconds`, and writes the raw
  * samples, the correctness tally and — traced — the per-layer usage to
  * `--out`. `run.py` launches it and computes the metrics.
  */
object Main {

  /** Source size: orders (nodes) and customers (ways). */
  val Orders = 20000
  val Customers = 2000
  /** Hash buckets of the store. */
  val Buckets = 8
  /** Store loads per run; `setup_s` is their median. */
  val Setups = 3

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    def need(k: String) = opts.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    val workload = need("workload")
    require(Set("serve", "replicate")(workload), s"unknown workload $workload")
    val seed = need("seed").toLong
    val seconds = need("seconds").toDouble
    val traced = need("trace") == "1"
    val work = Path.of(need("work"))
    Files.createDirectories(work)
    val cores = Runtime.getRuntime.availableProcessors

    val before = HostContention.sample()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"osmbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        "1024")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val tracer = new Tracer(traced)
    val report = new Report
    val ctx = Ctx(spark, seed, seconds, tracer, report, work, Buckets)
    tracer.attach(spark)
    try {
      val src = Inputs.source(seed, Orders, Customers)
      val input = phase("prepare")(Store.prepare(src, work.resolve("input"),
        cores, tracer))
      report.value("pbf_bytes", input.pbfBytes.toDouble)
      report.value("elements", src.elements.toDouble)
      report.value("encode_s", input.encodeS)
      val builds = phase("set-up")((1 to Setups).map { i =>
        val b = Store.build(spark, input, work.resolve(s"store-$i"), Buckets,
          tracer)
        report.sample("setup_s", b.setupS)
        b
      })
      builds.init.foreach(b => Store.rmTree(Path.of(b.root)))
      val store = builds.last
      report.value("setup_store_bytes", Store.usage(store.root)._2.toDouble)
      if (traced) decode(ctx, input)

      val gc0 = gcMillis
      val heap = new HeapSampler
      val t0 = System.nanoTime()
      phase(workload)(workload match {
        case "serve" => Serve.run(ctx, src, store)
        case "replicate" => Replicate.run(ctx, src, store)
      })
      report.value("measured_s", (System.nanoTime() - t0) / 1e9)
      report.value("jvm.gc_s", (gcMillis - gc0) / 1000.0)
      report.value("jvm.heap_peak_mb", heap.stop() / 1e6)
    } catch { case e: Exception =>
      report.check(ok = false, s"run aborted: $e")
      e.printStackTrace()
    } finally tracer.detach(spark)

    val after = HostContention.sample()
    report.value("cores", cores.toDouble)
    report.value("heap_max_mb", Runtime.getRuntime.maxMemory / 1e6)
    report.value("contended", before.contended || after.contended)
    report.value("contention", Map(
      "start" -> Map("other_jvms" -> before.otherJvms, "load" -> before.load,
        "busy" -> before.busy),
      "end" -> Map("other_jvms" -> after.otherJvms, "load" -> after.load,
        "busy" -> after.busy)))
    if (traced) {
      report.value("layers", layers(tracer))
      report.value("plan_ms", tracer.planMs.asScala.map(_.doubleValue).toSeq)
      report.value("exec_ms", tracer.execMs.asScala.map(_.doubleValue).toSeq)
      report.value("stream_ms", tracer.streamMs.asScala.toSeq
        .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sum })
      report.value("stream_batches",
        tracer.streamMs.asScala.count(_._1 == "triggerExecution"))
      opts.get("spans").foreach(p => writeSpans(tracer, Path.of(p)))
    }
    Files.writeString(Path.of(need("out")), report.toJson)
    spark.stop()
  }

  private def phase[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body
    finally System.err.println(f"[osmbench] $name: " +
      f"${(System.nanoTime() - t0) / 1e9}%.1f s")
  }

  /** The PBF read through the osmpbf source into the noop sink (traced
    * runs only): the codec's decode cost without expand's sort/write. */
  private def decode(ctx: Ctx, input: Store.Input): Unit = {
    val t0 = System.nanoTime()
    ctx.tracer.span("codec.decode") {
      Seq("node", "way", "relation").foreach(e =>
        Ingest.readOsm(ctx.spark, input.pbfDir, e).write.format("noop")
          .mode("overwrite").save())
    }
    ctx.report.sample("codec.decode_s", (System.nanoTime() - t0) / 1e9)
  }

  private def gcMillis: Long = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime).filter(_ >= 0).sum

  /** Samples used heap every 20 ms until stopped; returns the peak. */
  private final class HeapSampler {
    @volatile private var running = true
    @volatile private var peak = 0L
    private val thread = new Thread(() => {
      val rt = Runtime.getRuntime
      while (running) {
        peak = math.max(peak, rt.totalMemory - rt.freeMemory)
        Thread.sleep(20)
      }
    }, "osmbench-heap")
    thread.setDaemon(true)
    thread.start()
    def stop(): Long = { running = false; thread.join(); peak }
  }

  /** Spark usage per span name (spans of one name summed). */
  private def layers(tracer: Tracer): Map[String, Map[String, Any]] =
    tracer.spans.groupBy(_.name).map { case (name, ss) =>
      val us = ss.map(tracer.usage)
      name -> Map[String, Any](
        "count" -> ss.size, "wall_s" -> ss.map(_.wallS).sum,
        "jobs" -> us.map(_.jobs).sum, "tasks" -> us.map(_.tasks).sum,
        "task_s" -> us.map(_.taskS).sum, "cpu_s" -> us.map(_.cpuS).sum,
        "driver_s" -> us.map(_.driverS).sum,
        "shuffle_mb" -> us.map(_.shuffleMb).sum,
        "spill_mb" -> us.map(_.spillMb).sum,
        "bytes_written" -> us.map(_.bytesWritten).sum,
        "call_sites" -> us.flatMap(_.callSites).groupBy(_._1)
          .map { case (k, v) => k -> v.map(_._2).sum })
    }.toMap

  private def writeSpans(tracer: Tracer, p: Path): Unit = {
    Files.createDirectories(p.getParent)
    Files.write(p, tracer.spans.map(s => Json(Map("id" -> s.id,
      "name" -> s.name, "op" -> s.op, "parent" -> s.parent,
      "start_ms" -> s.start, "end_ms" -> s.end))).asJava)
  }
}
