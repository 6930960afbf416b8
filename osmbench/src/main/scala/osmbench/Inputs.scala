package osmbench

import scala.util.Random

/** Seeded inputs of one benchmark run. Everything here is pure Scala —
  * no Spark — so the same seed reproduces the same source, the same
  * request stream and the same change batches, and the expectations the
  * correctness checks compare against are derived independently of the
  * library under test.
  *
  * The source is the star-schema slice `graft.osm.SyntheticOsm` derives
  * its OSM model from, and [[Source]] applies the same derivation
  * (orders -> nodes, customers -> ways, nations -> relations, regions ->
  * super-relations). The seed picks which order keys exist (and so every
  * node coordinate), each order's customer and each customer's nation;
  * the row counts are fixed so two seeds do the same amount of work.
  */
final case class Order(key: Long, cust: Long, status: String,
                       prio: String, day: Int)
final case class Customer(key: Long, nation: Int, segment: String)
final case class Member(ref: Long, mtype: String, role: String) {
  def tuple: (Long, String, String) = (ref, mtype, role)
}

/** The answer each `graft.osm.OsmDb` lookup must give for an id, in the
  * shapes `OsmDb` returns. */
trait Oracle {
  def location(id: Long): Option[(Int, Int, Int)]
  def node(id: Long): Option[(Map[String, String], Int)]
  def way(id: Long): Option[(Seq[Long], Map[String, String])]
  def relation(id: Long)
  : Option[(Seq[(Long, String, String)], Map[String, String])]
  def parents(id: Long): Seq[Long]
}

final case class Source(orders: Vector[Order], customers: Vector[Customer])
  extends Oracle {
  import Source._

  val locationIds: Array[Long] = orders.map(_.key).toArray.sorted
  val nodeIds: Array[Long] = locationIds.filter(_ % 3 == 0)
  private val byCust: Map[Long, Vector[Long]] =
    orders.groupBy(_.cust).map { case (c, os) => c -> os.map(_.key).sorted }
  /** way id -> its ordered node ids (customers with at least one order). */
  val wayNodes: Map[Long, Vector[Long]] =
    byCust.map { case (c, ks) => (c + WayBase) -> ks }
  val wayIds: Array[Long] = wayNodes.keys.toArray.sorted
  private val custNation: Map[Long, Int] =
    customers.map(c => c.key -> c.nation).toMap
  val segment: Map[Long, String] =
    customers.map(c => (c.key + WayBase) -> c.segment).toMap
  val orderByKey: Map[Long, Order] = orders.map(o => o.key -> o).toMap
  /** node id -> the way it belongs to (every order has one customer). */
  def wayOf(id: Long): Long = orderByKey(id).cust + WayBase

  /** relation id -> ordered members (ref, type, role): a nation lists
    * every customer of the nation as a way, then every 97th order as a
    * node; a region lists its nations. */
  val relationMembers: Map[Long, Vector[Member]] = {
    val nat = (0 until Nations).map { n =>
      val ways = customers.filter(_.nation == n).map(_.key).sorted
        .map(c => Member(c + WayBase, "way", "outer"))
      val nodes = orders.filter(o => o.key % 97 == 0 &&
          custNation.get(o.cust).contains(n)).map(_.key).sorted
        .map(k => Member(k, "node", "label"))
      (n + RelBase) -> (ways ++ nodes)
    }
    val reg = (0 until Regions).map(r => (r + SuperRelBase) ->
      (0 until Nations).filter(_ % Regions == r).toVector
        .map(n => Member(n + RelBase, "relation", "subarea")))
    (nat ++ reg).toMap
  }
  val relationIds: Array[Long] = relationMembers.keys.toArray.sorted

  def relationTags(id: Long): Map[String, String] =
    if (id >= SuperRelBase) {
      val r = (id - SuperRelBase).toInt
      Map("type" -> "boundary", "name" -> RegionNames(r))
    } else {
      val n = (id - RelBase).toInt
      Map("type" -> (if (n % 2 == 0) "multipolygon" else "boundary"),
        "name" -> s"NATION_$n")
    }

  def nodeTags(id: Long): Map[String, String] =
    if (id % 3 != 0) Map.empty
    else {
      val o = orderByKey(id)
      Map("status" -> o.status, "prio" -> o.prio)
    }

  // ---- the freshly expanded store's answers ----
  def location(id: Long): Option[(Int, Int, Int)] =
    orderByKey.get(id).map(_ => (lon(id), lat(id), version(id)))
  def node(id: Long): Option[(Map[String, String], Int)] =
    if (id % 3 == 0 && orderByKey.contains(id))
      Some((nodeTags(id), version(id)))
    else None
  def way(id: Long): Option[(Seq[Long], Map[String, String])] =
    wayNodes.get(id).map(ns => (ns, Map("segment" -> segment(id))))
  def relation(id: Long)
  : Option[(Seq[(Long, String, String)], Map[String, String])] =
    relationMembers.get(id).map(ms => (ms.map(_.tuple), relationTags(id)))
  def parents(id: Long): Seq[Long] =
    if (orderByKey.contains(id)) Seq(wayOf(id)) else Nil

  /** Number of elements the PBF carries (nodes + ways + relations). */
  def elements: Long = locationIds.length.toLong + wayIds.length +
    relationIds.length
}

object Source {
  val WayBase = 1000000L
  val RelBase = 2000000L
  val SuperRelBase = 3000000L
  val Nations = 25
  val Regions = 5
  val RegionNames =
    Vector("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  val Statuses = Vector("F", "O", "P")
  val Priorities =
    Vector("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val Segments = Vector("AUTOMOBILE", "BUILDING", "FURNITURE",
    "HOUSEHOLD", "MACHINERY")

  /** SyntheticOsm's coordinate derivation (1e-7 degree fixed point). */
  def lon(k: Long): Int = ((k * 2147483629L) % 3600000000L - 1800000000L).toInt
  def lat(k: Long): Int = ((k * 981451653L) % 1200000000L - 600000000L).toInt
  def version(k: Long): Int = (k % 7 + 1).toInt
}

object Inputs {

  /** The run's source: `nOrders` orders whose keys are a seeded sample
    * of [0, 8 * nOrders), spread over `nCustomers` customers. */
  def source(seed: Long, nOrders: Int, nCustomers: Int): Source = {
    val rnd = new Random(seed)
    val keys = rnd.shuffle((0L until 8L * nOrders).toVector)
      .take(nOrders).sorted
    val orders = keys.map(k => Order(k, rnd.nextInt(nCustomers).toLong,
      Source.Statuses(rnd.nextInt(3)), Source.Priorities(rnd.nextInt(5)),
      rnd.nextInt(2400)))
    val customers = (0 until nCustomers).toVector.map(c => Customer(
      c.toLong, rnd.nextInt(Source.Nations),
      Source.Segments(rnd.nextInt(5))))
    Source(orders, customers)
  }
}
