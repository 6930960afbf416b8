package osmbench

import graft.functions.GraftFunctions
import graft.osm.{Extract, Ingest, OsmDb, VersionedTable}
import graft.spatial.{Coverer, Region, SpatialScan}
import org.apache.spark.sql.functions.{col, explode}

/** `serve`: one pinned snapshot of the bucketed store answering a seeded
  * closed-loop mix of point lookups and regional bbox extracts. */
object Serve {

  /** Lookups run before the window, so it measures the JIT-compiled path. */
  val WarmLookups = 1500

  /** Mean lookups per extract in the window. An assumption, not a traffic
    * trace: at about 1.5 ms a lookup and 4 s an extract on 4 cores it
    * gives a window of 18 s over 1,000 lookups (enough for a p99 with ten
    * beyond it) and still about 4 extracts. */
  val Gap = 300

  /** The size class of every extract in the window. A tiny box runs
    * before it and, in a traced run, a large one after it; both are read
    * back and checked, outside the metrics. */
  val WindowSize = "small"

  /** Run one lookup through `db` and check it against `o`. */
  def lookup(db: OsmDb, o: Oracle, kind: String, id: Long): Boolean =
    kind match {
      case "location" => db.location(id) == o.location(id)
      case "node" => db.node(id) == o.node(id)
      case "way" => db.way(id) == o.way(id)
      case "relation" => db.relation(id) == o.relation(id)
      case _ => db.parents("node_way", id) == o.parents(id)
    }

  def run(ctx: Ctx, src: Source, store: Store.Built): Unit = {
    import ctx._
    val db = new OsmDb(spark, store.root)
    // warm the reader: the first probe of each (table, bucket) pays the
    // file listing and footer read; serving measures the warm path
    val byBucket = Probes.index(src, nBuckets)
    val rnd = new scala.util.Random(seed)
    for (kind <- Plans.LookupKinds; b <- 0 until nBuckets) {
      val id = Probes.pick(byBucket, kind, b, rnd)
      val t0 = System.nanoTime()
      val ok = report.attempt(s"$kind $id")(lookup(db, src, kind, id))
      report.sample("lookup.first_touch_ms", (System.nanoTime() - t0) / 1e6)
      ok.foreach(v => report.check(v, s"first-touch $kind $id"))
    }
    // then lookups and a tiny extract, for the class loading and JIT of
    // both paths
    val warmPlan = new ServePlan(seed + 1, src, gap = 1 << 20, WindowSize)
    for (_ <- 1 to WarmLookups) {
      val l = warmPlan.next().asInstanceOf[Lookup]
      report.attempt(s"${l.kind} ${l.id}")(lookup(db, src, l.kind, l.id))
        .foreach(v => report.check(v, s"warm-up ${l.kind} ${l.id}"))
    }
    var n = 0
    /** One extract, read back and checked when `readBack` is set; its
      * time in seconds, or None when it threw. */
    def extractOnce(c: Ctx, e: BboxExtract, readBack: Boolean,
                    measured: Boolean): Option[Double] = {
      n += 1
      val out = work.resolve(s"extract-$n")
      val t0 = System.nanoTime()
      val done = c.report.attempt(s"extract ${e.text}") {
        extract(c, db, store.root, e, out.toString, measured)
      }
      val s = (System.nanoTime() - t0) / 1e9
      done.foreach { bytes =>
        if (measured) c.report.sample("extract.bytes_out", bytes.toDouble)
        if (readBack)
          c.report.attempt(s"verify ${e.text}")(verify(c, src, e,
            out.toString)).foreach(v =>
            c.report.check(v, s"extract ${e.text} incomplete"))
        else c.report.check(ok = true, "")
      }
      Store.rmTree(out)
      done.map(_ => s)
    }
    val boxes = new scala.util.Random(seed + 2)
    val t0 = System.nanoTime()
    extractOnce(ctx, Plans.box(boxes, "tiny"), readBack = true,
      measured = false)
    val warmNs = System.nanoTime() - t0

    def measure(c: Ctx): Unit = {
      val plan = new ServePlan(seed, src, Gap, WindowSize)
      var verified = false
      val window = c.window()
      var next = plan.next()
      while (window.fits(kindOf(next), if (next.isInstanceOf[Lookup]) 0L
                                       else warmNs)) {
        c.tracer.nextOp()
        window.run(kindOf(next))(next match {
          case l: Lookup =>
            val t0 = System.nanoTime()
            val ok = c.tracer.span(s"pointreader.${l.kind}") {
              c.report.attempt(s"${l.kind} ${l.id}")(
                lookup(db, src, l.kind, l.id))
            }
            val ms = (System.nanoTime() - t0) / 1e6
            ok.foreach(v => c.report.check(v,
              s"${l.kind} ${l.id} present=${l.present}"))
            c.report.sample("lookup_ms", ms)
            c.report.sample(s"lookup.${l.kind}_ms", ms)
            c.report.sample(if (l.present) "lookup.present_ms"
              else "lookup.absent_ms", ms)
          case e: BboxExtract =>
            // the first extract of the window is read back too
            extractOnce(c, e, readBack = !verified, measured = true)
              .foreach(s => c.report.sample("extract_s", s))
            verified = true
        })
        next = plan.next()
      }
    }
    measure(ctx)
    if (tracer.enabled) {
      // the same requests again, untraced, for the tracing overhead
      ctx.untraced(measure)
      extractOnce(ctx, Plans.box(boxes, "large"), readBack = true,
        measured = false)
    }
  }

  private def kindOf(r: Request): String = r match {
    case _: Lookup => "lookup"
    case _ => "extract"
  }

  /** The `Cli extract` path: covering -> cellInRanges seed scan on the
    * stored s2cell -> Extract.complete -> PBF write. Returns bytes out. */
  def extract(ctx: Ctx, db: OsmDb, root: String, e: BboxExtract,
              out: String, measured: Boolean): Long = {
    import ctx._
    def sample(name: String, v: Double): Unit =
      if (measured) report.sample(name, v)
    val region = Region(e.text, "bbox")
    val t = Ingest.readTables(spark, root, Some(db.snapshot))
    GraftFunctions.register(spark)
    val ranges = tracer.span("coverer") {
      val t0 = System.nanoTime()
      val cells = Coverer.covering(region)
      val r = Coverer.cellRanges(cells)
      sample("coverer.cover_ms", (System.nanoTime() - t0) / 1e6)
      sample("coverer.cells", cells.size.toDouble)
      sample("coverer.ranges", r.size.toDouble)
      r
    }
    val seeds = VersionedTable.read(spark, root, "locations", Some(db.snapshot))
      .where(SpatialScan.cellInRanges(col("s2cell"), ranges))
      .select(col("id"))
    /** A span that also records its wall as the sample `<name>_s`. */
    def timed[T](name: String)(body: => T): T = tracer.span(name) {
      val t0 = System.nanoTime()
      try body finally sample(s"${name}_s", (System.nanoTime() - t0) / 1e9)
    }
    val sel = timed("extract.complete")(Extract.complete(t, seeds))
    val header = Ingest.pbfHeaderOptions(Some(region),
      db.metadata("osmosis_replication_timestamp").map(_.toLong),
      db.metadata("osmosis_replication_sequence_number").map(_.toLong))
    timed("extract.write")(Ingest.writeExtract(t, sel, out,
      format = "osmpbf", headerOpts = header))
    Store.pbfBytes(out)
  }

  /** Read the written PBF back: it must hold every node of every way it
    * holds, and every source node inside the bbox. */
  def verify(ctx: Ctx, src: Source, e: BboxExtract, out: String): Boolean = {
    val spark = ctx.spark
    val nodes = Ingest.readOsm(spark, out, "node").select(col("id"))
      .collect().map(_.getLong(0)).toSet
    val wayNodes = Ingest.readOsm(spark, out, "way")
      .select(explode(col("nodes"))).collect().map(_.getLong(0)).toSet
    val inBox = src.locationIds.filter(id =>
      e.contains(Source.lat(id), Source.lon(id)))
    wayNodes.subsetOf(nodes) && inBox.forall(nodes)
  }
}
