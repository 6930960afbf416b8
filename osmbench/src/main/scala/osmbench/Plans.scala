package osmbench

import scala.util.Random

/** Seeded request streams. Each is an endless deterministic sequence:
  * the time-bounded client loop consumes a prefix of it, so the same
  * seed always issues the same requests in the same order. */
sealed trait Request
/** A point lookup. `kind` is location|node|way|relation|parents;
  * `present = false` marks an id the store does not hold. */
final case class Lookup(kind: String, id: Long, present: Boolean)
  extends Request
/** A regional bbox extract of one size class (tiny|small|large). */
final case class BboxExtract(size: String, latLo: Double, lonLo: Double,
                             latHi: Double, lonHi: Double) extends Request {
  def text: String = s"$latLo,$lonLo,$latHi,$lonHi"
  def contains(lat: Int, lon: Int): Boolean = {
    val (la, lo) = (lat / 1e7, lon / 1e7)
    la >= latLo && la <= latHi && lo >= lonLo && lo <= lonHi
  }
}

object Plans {
  val LookupKinds = Vector("location", "node", "way", "relation", "parents")
  /** box edge range in degrees per extract size class */
  val ExtractSizes =
    Vector("tiny" -> (3.0, 5.0), "small" -> (8.0, 14.0), "large" -> (24.0, 36.0))
  val AbsentShare = 0.1

  /** A seeded box of size class `size`. */
  def box(rnd: Random, size: String): BboxExtract = {
    val (lo, hi) = ExtractSizes.toMap.apply(size)
    val w = lo + rnd.nextDouble() * (hi - lo)
    val h = lo + rnd.nextDouble() * (hi - lo)
    // node latitudes span [-60, 60): keep boxes inside that band
    val lat = -60 + rnd.nextDouble() * (120 - h)
    val lon = -180 + rnd.nextDouble() * (360 - w)
    BboxExtract(size, lat, lon, lat + h, lon + w)
  }
}

/** The `serve` mix: lookups with an extract after every `gap`-ish of
  * them (the gap is drawn from [gap/2, 3*gap/2]). Every extract is of
  * one size class, so the median extract time means the same thing
  * however many extracts a window holds. */
final class ServePlan(seed: Long, src: Source, gap: Int, size: String)
  extends Iterator[Request] {
  import Plans._
  private val rnd = new Random(seed * 31 + 7)
  private var untilExtract = nextGap()
  private def nextGap(): Int = gap / 2 + rnd.nextInt(gap + 1)

  def hasNext: Boolean = true

  def next(): Request =
    if (untilExtract > 0) { untilExtract -= 1; lookup() }
    else { untilExtract = nextGap(); box(rnd, size) }

  private def pick(a: Array[Long]): Long = a(rnd.nextInt(a.length))

  private def lookup(): Lookup = {
    val kind = LookupKinds(rnd.nextInt(LookupKinds.size))
    val present = rnd.nextDouble() >= AbsentShare
    val id = (kind, present) match {
      case ("location" | "parents", true) => pick(src.locationIds)
      case ("node", true) => pick(src.nodeIds)
      case ("way", true) => pick(src.wayIds)
      case ("relation", true) => pick(src.relationIds)
      // absent ids: past the key range of each id space (the node
      // probe also misses on untagged nodes, which only `location` has)
      case ("location" | "parents" | "node", false) =>
        8L * src.orders.size + rnd.nextInt(1 << 20)
      case ("way", false) => Source.WayBase + src.customers.size +
        rnd.nextInt(1 << 16)
      case _ => Source.RelBase + Source.Nations + rnd.nextInt(1 << 16)
    }
    Lookup(kind, id, present)
  }
}

/** One element change of a replication batch (a row of
  * `Replication.changeSchema`). Node changes carry coordinates, way
  * changes node lists, relation changes members. */
final case class Change(id: Long, etype: String, visible: Boolean,
                        lon: Int, lat: Int, version: Int,
                        nodes: Vector[Long], members: Vector[Member],
                        tags: Map[String, String], seqnum: Long)

final case class Batch(kind: String, batchId: Long,
                       changes: Vector[Change]) {
  /** The state each changed element ends in: the last change per
    * element in (seqnum, version) order, which is what the library's
    * latest-version-wins dedup must keep. */
  def finalState: Map[(String, Long), Change] =
    changes.groupBy(c => (c.etype, c.id))
      .map { case (k, cs) => k -> cs.maxBy(c => (c.seqnum, c.version)) }
}

/** The `replicate` stream of change batches, as a replicator that starts
  * behind sees it: first one "catch-up" batch (2% of the elements, ~30%
  * of them changed again at a later seqnum, as when several diffs are
  * applied at once), then one "clustered" batch (node changes confined
  * to two buckets), then "minutely" batches (~0.1% over all buckets)
  * only. Tracks every element's current version so each change is
  * version + 1, and never touches a deleted node again.
  *
  * `bucketOf(table, id)` is the store's bucket hash, used only to
  * confine the clustered batches. */
final class ReplicatePlan(seed: Long, src: Source, nBuckets: Int,
                          bucketOf: Long => Int)
  extends Iterator[Batch] with Oracle {
  private val rnd = new Random(seed * 131 + 11)
  private val version = scala.collection.mutable.Map[Long, Int]()
  private val coords = scala.collection.mutable.Map[Long, (Int, Int)]()
  private val wayNodes = scala.collection.mutable.Map[Long, Vector[Long]]()
  private val relMembers =
    scala.collection.mutable.Map[Long, Vector[Member]]()
  private val deleted = scala.collection.mutable.Set[Long]()
  private var batches = 0L
  private var seqnum = 43L
  private val elements = src.elements
  private val clusterBuckets = {
    val b = rnd.nextInt(nBuckets)
    Set(b, (b + 1) % nBuckets)
  }
  private val clusterNodes =
    src.locationIds.filter(id => clusterBuckets(bucketOf(id)))

  def hasNext: Boolean = true

  def nextKind: String = batches match {
    case 0 => "catchup"
    case 1 => "clustered"
    case _ => "minutely"
  }

  def next(): Batch = {
    val kind = nextKind
    batches += 1
    val changes = kind match {
      case "minutely" =>
        spread((elements / 1000).toInt, relations = 0, seqnum)
      case "catchup" =>
        val first = spread((elements * ReplicatePlan.CatchUpShare).toInt,
          relations = 1, seqnum)
        // a later minutely diff modifies ~30% of the same elements again
        val again = first.filter(c => c.visible && rnd.nextDouble() < 0.3)
          .map(c => change(c.etype, c.id, seqnum + 1))
        seqnum += 1
        first ++ again
      case _ =>
        pick(clusterNodes, elements.toInt / 100)
          .map(id => change("node", id, seqnum))
    }
    seqnum += 1
    Batch(kind, 1000 + batches, changes)
  }

  // ---- the store's answers once every batch handed out is committed ----
  def location(id: Long): Option[(Int, Int, Int)] =
    if (deleted(id)) None
    else coords.get(id).map { case (lo, la) => (lo, la, version(id)) }
      .orElse(src.location(id))
  def node(id: Long): Option[(Map[String, String], Int)] =
    if (deleted(id)) None
    else src.node(id).map { case (t, v) => (t, version.getOrElse(id, v)) }
  def way(id: Long): Option[(Seq[Long], Map[String, String])] =
    src.way(id).map { case (ns, t) => (wayNodes.getOrElse(id, ns), t) }
  def relation(id: Long)
  : Option[(Seq[(Long, String, String)], Map[String, String])] =
    src.relation(id).map { case (ms, t) =>
      (relMembers.get(id).map(_.map(_.tuple)).getOrElse(ms), t) }
  /** Node-way membership never changes: way changes reorder node lists
    * and a deleted node stays referenced by its way. */
  def parents(id: Long): Seq[Long] = src.parents(id)

  /** `n` elements drawn over the whole id space: `relations` relations,
    * a tenth of the rest ways and the others live nodes. The counts are
    * fixed so that every seed commits batches of the same shape. */
  private def spread(n: Int, relations: Int, s: Long): Vector[Change] = {
    val ways = (n - relations) / 10
    (pick(src.relationIds, relations).map(("relation", _)) ++
      pick(src.wayIds, ways).map(("way", _)) ++
      pick(src.locationIds, n - relations - ways).map(("node", _)))
      .map { case (t, id) => change(t, id, s) }
  }

  /** `n` distinct ids of `ids` (nodes: not deleted), in seeded order. */
  private def pick(ids: Array[Long], n: Int): Vector[Long] = {
    val out = scala.collection.mutable.LinkedHashSet[Long]()
    while (out.size < n) {
      val id = ids(rnd.nextInt(ids.length))
      if (!deleted(id)) out += id
    }
    out.toVector
  }

  private def change(etype: String, id: Long, s: Long): Change = {
    val v = version.getOrElse(id, storeVersion(etype, id)) + 1
    version(id) = v
    etype match {
      case "node" =>
        // ~9% of node changes are deletes; the rest move the node
        val del = rnd.nextInt(11) == 0
        val (lo, la) = coords.getOrElse(id,
          (Source.lon(id), Source.lat(id)))
        val moved = (lo + rnd.nextInt(2001) - 1000,
          la + rnd.nextInt(2001) - 1000)
        if (del) deleted += id else coords(id) = moved
        Change(id, "node", !del, moved._1, moved._2, v, Vector.empty,
          Vector.empty, src.nodeTags(id), s)
      case "way" =>
        val ns = wayNodes.getOrElse(id, src.wayNodes(id)).reverse
        wayNodes(id) = ns
        Change(id, "way", visible = true, 0, 0, v, ns, Vector.empty,
          Map("segment" -> src.segment(id)), s)
      case _ =>
        val ms = relMembers.getOrElse(id, src.relationMembers(id)).reverse
        relMembers(id) = ms
        Change(id, "relation", visible = true, 0, 0, v, Vector.empty, ms,
          src.relationTags(id), s)
    }
  }

  /** The version the freshly expanded store holds for an element
    * (SyntheticOsm: nodes k%7+1, ways custkey%5+1, nations n%3+1,
    * regions r%3+1). */
  private def storeVersion(etype: String, id: Long): Int = etype match {
    case "node" => Source.version(id)
    case "way" => ((id - Source.WayBase) % 5 + 1).toInt
    case _ =>
      if (id >= Source.SuperRelBase) ((id - Source.SuperRelBase) % 3 + 1).toInt
      else ((id - Source.RelBase) % 3 + 1).toInt
  }
}

object ReplicatePlan {
  /** Share of all elements one catch-up batch changes (fixed, so every
    * seed applies batches of the same sizes). */
  val CatchUpShare = 0.02
}
