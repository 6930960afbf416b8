package osmbench

import java.nio.file.{Files, Path}

import graft.osm.Ingest
import graft.sources.OsmPbfCodec
import graft.sources.OsmXmlCodec.{RawNode, RawRelation, RawWay}
import org.apache.spark.sql.SparkSession

/** Set-up shared by the workloads: the seeded source's OSM model is
  * encoded as a sharded PBF, and `Ingest.expandBucketed` loads that PBF
  * into a fresh bucketed store. */
object Store {

  /** The PBF input every set-up loads, and what encoding it cost. */
  final case class Input(pbfDir: String, pbfBytes: Long, encodeS: Double)
  /** One loaded store and how long loading it took. */
  final case class Built(root: String, setupS: Double)

  val ReplicationTs = 1600000000L
  val HeaderSeqnum = 42L

  /** The run's input: the source's OSM model (`SyntheticOsm`'s
    * derivation, see [[Source]]) encoded by the library's PBF codec,
    * sharded by entity and id range the way the PBF data source writes
    * it. Encoding runs on the driver, without Spark. */
  def prepare(src: Source, dir: Path, shards: Int, tracer: Tracer): Input = {
    val pbfDir = dir.resolve("pbf")
    Files.createDirectories(pbfDir)
    val header = OsmPbfCodec.PbfHeader(
      replicationTimestamp = Some(ReplicationTs),
      replicationSeqnum = Some(HeaderSeqnum))
    def user(k: Long) = s"user${k % 100}"
    def shard[T](entity: String, xs: Seq[T])(
        write: (java.io.OutputStream, Seq[T]) => Unit): Unit =
      xs.grouped(math.max(1, (xs.size + shards - 1) / shards)).zipWithIndex
        .foreach { case (part, i) =>
          val os = new java.io.BufferedOutputStream(Files.newOutputStream(
            pbfDir.resolve(f"part-$entity-$i%05d.osm.pbf")))
          try write(os, part) finally os.close()
        }
    val t0 = System.nanoTime()
    tracer.span("setup.encode") {
      val day0 = java.time.LocalDate.of(1992, 1, 1).toEpochDay
      shard("node", src.orders) { (out, part) => OsmPbfCodec.write(out,
        part.iterator.map(o => RawNode(o.key, Source.lon(o.key),
          Source.lat(o.key), Source.version(o.key), (day0 + o.day) * 86400L,
          o.cust, o.cust % 1000, user(o.cust), src.nodeTags(o.key).toSeq)),
        Iterator.empty, Iterator.empty, meta = header) }
      shard("way", src.wayIds.toSeq) { (out, ids) => OsmPbfCodec.write(out,
        Iterator.empty, ids.iterator.map { id =>
          val c = id - Source.WayBase
          RawWay(id, (c % 5 + 1).toInt, 1500000000L,
            src.customers(c.toInt).nation.toLong, c % 1000, user(c),
            Seq("segment" -> src.segment(id)), src.wayNodes(id))
        }, Iterator.empty, meta = header) }
      shard("relation", src.relationIds.toSeq) { (out, ids) =>
        OsmPbfCodec.write(out, Iterator.empty, Iterator.empty,
          ids.iterator.map { id =>
            val (k, ts, parent) =
              if (id >= Source.SuperRelBase)
                (id - Source.SuperRelBase, 1700000000L,
                  id - Source.SuperRelBase)
              else (id - Source.RelBase, 1600000000L,
                (id - Source.RelBase) % Source.Regions)
            RawRelation(id, (k % 3 + 1).toInt, ts, parent, k, user(k),
              src.relationTags(id).toSeq,
              src.relationMembers(id).map(_.tuple))
          }, meta = header) }
    }
    Input(pbfDir.toString, pbfBytes(pbfDir.toString),
      (System.nanoTime() - t0) / 1e9)
  }

  /** The set-up proper: `expandBucketed` of the PBF into a fresh store. */
  def build(spark: SparkSession, in: Input, root: Path, nBuckets: Int,
            tracer: Tracer): Built = {
    val t0 = System.nanoTime()
    tracer.span("expand") {
      Ingest.expandBucketed(spark, in.pbfDir, root.toString,
        nBuckets = nBuckets)
    }
    Built(root.toString, (System.nanoTime() - t0) / 1e9)
  }

  /** Bytes of the PBF shards (Spark's markers and checksums excluded). */
  def pbfBytes(dir: String): Long =
    Files.list(Path.of(dir)).toArray.map(_.asInstanceOf[Path])
      .filter { p =>
        val n = p.getFileName.toString
        Files.isRegularFile(p) && !n.startsWith("_") && !n.startsWith(".")
      }.map(Files.size).sum

  /** Data files under `dir` (Spark's hidden checksum files not
    * counted) and the bytes of every file, checksums included. */
  def usage(dir: String): (Int, Long) = {
    val p = Path.of(dir)
    if (!Files.exists(p)) (0, 0L)
    else {
      val w = Files.walk(p)
      try {
        val fs = w.filter(Files.isRegularFile(_)).toArray
          .map(_.asInstanceOf[Path])
        (fs.count(!_.getFileName.toString.startsWith(".")),
          fs.map(Files.size).sum)
      } finally w.close()
    }
  }

  def rmTree(dir: Path): Unit = if (Files.exists(dir)) {
    val w = Files.walk(dir)
    try w.sorted(java.util.Comparator.reverseOrder())
      .forEach(p => Files.deleteIfExists(p))
    finally w.close()
  }
}
