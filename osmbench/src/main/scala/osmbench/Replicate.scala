package osmbench

import scala.jdk.CollectionConverters._

import graft.osm.{OsmDb, VersionedTable}
import graft.streaming.Replication
import graft.streaming.Replication.ApplyResult
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** `replicate`: a seeded sequence of `Replication.applyBatch` commits
  * against the freshly expanded store, each followed by read-your-writes
  * probes on a new snapshot, with a periodic vacuum. */
object Replicate {

  def toDF(spark: SparkSession, b: Batch): DataFrame =
    spark.createDataFrame(b.changes.map { c =>
      Row(c.id, c.etype, c.visible,
        if (c.etype == "node") c.lon else null,
        if (c.etype == "node") c.lat else null,
        c.version,
        if (c.etype == "way") c.nodes else null,
        if (c.etype == "relation")
          c.members.map(m => Row(m.ref, m.mtype, m.role)) else null,
        c.tags,
        Row(c.version, 1700000000L + c.seqnum, c.seqnum, 7L, "bench"),
        c.seqnum)
    }.asJava, Replication.changeSchema)

  private val ElementTables = Seq("locations", "nodes", "ways", "relations")

  def run(ctx: Ctx, src: Source, store: Store.Built): Unit = {
    import ctx._
    val root = store.root
    val plan = new ReplicatePlan(seed, src, nBuckets,
      VersionedTable.bucketOfValue(_, nBuckets))
    val rnd = new scala.util.Random(seed * 7 + 3)
    val byBucket = Probes.index(src, nBuckets)
    // the catch-up and the clustered commit come before the window: they
    // pay the class loading and JIT a running replicator has long paid,
    // and catching up is what a replicator that starts behind does first.
    // Their times are the per-layer apply.catchup_s and apply.clustered_s.
    commit(ctx, root, plan, byBucket, rnd)
    val t0 = System.nanoTime()
    commit(ctx, root, plan, byBucket, rnd)
    val warmNs = System.nanoTime() - t0
    vacuum(ctx, root)
    // the window holds minutely commits only, with no vacuum, so every
    // operation in it is a sample of bulk_op_p50_s or lookup_p50_ms
    def measure(c: Ctx): Unit = {
      val window = c.window()
      while (window.fits(plan.nextKind, warmNs))
        window.run(plan.nextKind)(commit(c, root, plan, byBucket, rnd))
    }
    measure(ctx)
    if (tracer.enabled) {
      streamCatchUp(ctx, root, plan, byBucket, rnd)
      ctx.untraced(measure)
    }
    vacuum(ctx, root)
    report.value("store_bytes", Store.usage(root)._2.toDouble)
  }

  /** Apply the plan's next batch, check the replay guard, then probe the
    * new snapshot. Returns whether the commit applied. */
  private def commit(ctx: Ctx, root: String, plan: ReplicatePlan,
                     byBucket: Probes.Index,
                     rnd: scala.util.Random): Boolean = {
    import ctx._
    tracer.nextOp()
    val b = plan.next()
    val df = toDF(spark, b)
    val before = VersionedTable.current(root).get
    val t0 = System.nanoTime()
    val res = report.attempt(s"apply ${b.kind} ${b.batchId}") {
      tracer.span(s"apply.${b.kind}") {
        Replication.applyBatch(spark, root, df, b.batchId)
      }
    }
    val s = (System.nanoTime() - t0) / 1e9
    res.exists { r =>
      report.check(r == ApplyResult.Applied, s"apply ${b.batchId}: $r")
      report.sample(s"apply.${b.kind}_s", s)
      report.sample(s"apply.${b.kind}_changes", b.changes.size.toDouble)
      commitStats(ctx, root, b, before, VersionedTable.current(root).get)
      // a redelivered batch id must be a no-op
      report.attempt(s"replay ${b.batchId}")(
        Replication.applyBatch(spark, root, df, b.batchId)).foreach(r2 =>
        report.check(r2 == ApplyResult.ReplayedBatch,
          s"replay of ${b.batchId} returned $r2"))
      freshProbes(ctx, root, b, plan, byBucket, rnd,
        measured = b.kind == "minutely")
      r == ApplyResult.Applied
    }
  }

  /** Read-your-writes on a snapshot opened right after the commit: one
    * lookup per (lookup kind, bucket), so every probe is the first touch
    * of its bucket file. A bucket the batch changed is probed on a
    * changed element, the others on a seeded element of the source. */
  private def freshProbes(ctx: Ctx, root: String, b: Batch,
                          plan: ReplicatePlan, byBucket: Probes.Index,
                          rnd: scala.util.Random, measured: Boolean): Unit = {
    import ctx._
    val db = new OsmDb(spark, root)
    val changed = b.finalState.keys.toVector.sorted
    for (kind <- Plans.LookupKinds; bucket <- 0 until nBuckets) {
      val etype = Probes.etypeOf(kind)
      val id = changed.collectFirst { case (`etype`, i)
          if VersionedTable.bucketOfValue(i, nBuckets) == bucket => i }
        .getOrElse(Probes.pick(byBucket, kind, bucket, rnd))
      val t0 = System.nanoTime()
      val ok = tracer.span("pointreader.fresh") {
        report.attempt(s"probe $kind $id")(Serve.lookup(db, plan, kind, id))
      }
      if (measured) report.sample("lookup_ms", (System.nanoTime() - t0) / 1e6)
      ok.foreach(v => report.check(v, s"stale $kind $id after ${b.batchId}"))
    }
  }

  /** Buckets the batch's keys hash to against buckets the commit wrote,
    * and the bytes and files it added, over the element tables. */
  private def commitStats(ctx: Ctx, root: String, b: Batch,
                          before: VersionedTable.Manifest,
                          after: VersionedTable.Manifest): Unit = {
    import ctx._
    def keys(etype: String) =
      b.changes.filter(_.etype == etype).map(_.id).distinct
    val byTable = Map("locations" -> keys("node"), "nodes" -> keys("node"),
      "ways" -> keys("way"), "relations" -> keys("relation"))
    val changed = ElementTables.map(t => byTable(t)
      .map(VersionedTable.bucketOfValue(_, nBuckets)).distinct.size).sum
    val rewritten = ElementTables.map { t =>
      val (v0, v1) = (before.buckets(t).versions, after.buckets(t).versions)
      v0.indices.count(i => v0(i) != v1(i))
    }.sum
    val (files, bytes) = Store.usage(s"${root}/v=${after.version}")
    report.sample("commit.buckets_changed", changed.toDouble)
    report.sample("commit.buckets_rewritten", rewritten.toDouble)
    report.sample("commit.files_written", files.toDouble)
    report.sample("commit.bytes_written", bytes.toDouble)
    report.sample("commit.bytes_per_change", bytes.toDouble / b.changes.size)
  }

  private def vacuum(ctx: Ctx, root: String): Unit = {
    import ctx._
    val bytes0 = Store.usage(root)._2
    val t0 = System.nanoTime()
    report.attempt("vacuum")(tracer.span("vacuum") {
      VersionedTable.vacuum(root, retainVersions = 1)
    })
    report.sample("vacuum.wall_s", (System.nanoTime() - t0) / 1e9)
    report.sample("vacuum.bytes_reclaimed", (bytes0 - Store.usage(root)._2).toDouble)
  }

  /** One batch through the streaming catch-up loop (`Replication.catchUp`
    * over a change directory), so the traced run sees the streaming
    * operators' micro-batch phases. */
  private def streamCatchUp(ctx: Ctx, root: String, plan: ReplicatePlan,
                            byBucket: Probes.Index,
                            rnd: scala.util.Random): Unit = {
    import ctx._
    val b = plan.next()
    val changes = work.resolve("changes").toString
    toDF(spark, b).write.parquet(changes)
    val t0 = System.nanoTime()
    report.attempt("stream catch-up")(tracer.span("stream.catchup") {
      val q = Replication.catchUp(spark, changes, root,
        work.resolve("checkpoint").toString)
      q.awaitTermination()
    })
    report.sample("stream.catchup_s", (System.nanoTime() - t0) / 1e9)
    freshProbes(ctx, root, b, plan, byBucket, rnd, measured = false)
  }
}

/** Picking probe ids by the bucket their table hashes them to. */
object Probes {
  /** (lookup kind, bucket) -> the source ids of that kind in that bucket */
  type Index = Map[(String, Int), Array[Long]]

  def etypeOf(kind: String): String = kind match {
    case "way" => "way"
    case "relation" => "relation"
    case _ => "node"
  }

  def index(src: Source, nBuckets: Int): Index =
    Plans.LookupKinds.flatMap { kind =>
      val ids = kind match {
        case "node" => src.nodeIds
        case "way" => src.wayIds
        case "relation" => src.relationIds
        case _ => src.locationIds
      }
      ids.groupBy(VersionedTable.bucketOfValue(_, nBuckets))
        .map { case (b, is) => (kind, b) -> is }
    }.toMap

  /** A seeded id of `kind` in `bucket` (an id past every key range when
    * the bucket holds none: the lookup must then find nothing). */
  def pick(ix: Index, kind: String, bucket: Int,
           rnd: scala.util.Random): Long =
    ix.get((kind, bucket)).map(a => a(rnd.nextInt(a.length)))
      .getOrElse(Long.MaxValue - bucket)
}
