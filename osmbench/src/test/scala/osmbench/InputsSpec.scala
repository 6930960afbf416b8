package osmbench

import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's inputs are a function of the seed alone. */
class InputsSpec extends AnyFunSuite {

  private def src(seed: Long) = Inputs.source(seed, 2000, 200)
  private def bucket(id: Long) = (java.lang.Long.hashCode(id) & 0x7fffffff) % 8

  test("the same seed gives the same source; another seed another one") {
    assert(src(1) == src(1))
    assert(src(1).orders != src(2).orders)
    assert(src(1).orders.size == src(2).orders.size)
    assert(src(1).customers.size == src(2).customers.size)
  }

  test("the same seed gives the same serve requests") {
    def reqs(seed: Long) =
      new ServePlan(seed, src(seed), gap = 20, "small").take(500).toVector
    assert(reqs(3) == reqs(3))
    assert(reqs(3) != reqs(4))
    val r = reqs(3)
    val boxes = r.collect { case e: BboxExtract => e }
    assert(boxes.nonEmpty && boxes.forall(_.size == "small"))
    val lookups = r.collect { case l: Lookup => l }
    assert(lookups.exists(!_.present) && lookups.exists(_.present))
  }

  test("the same seed gives the same replication batches") {
    def batches(seed: Long) =
      new ReplicatePlan(seed, src(seed), 8, bucket).take(7).toVector
    assert(batches(5) == batches(5))
    assert(batches(5) != batches(6))
    assert(batches(5).map(_.kind) ==
      Vector("catchup", "clustered") ++ Vector.fill(5)("minutely"))
  }

  test("each change moves its element exactly one version on") {
    val s = src(7)
    val versions = scala.collection.mutable.Map[Long, Int]()
    new ReplicatePlan(7, s, 8, bucket).take(12).foreach { b =>
      b.changes.sortBy(_.seqnum).foreach { c =>
        versions.get(c.id).foreach(v => assert(c.version == v + 1))
        versions(c.id) = c.version
      }
    }
  }

  test("clustered batches stay inside two buckets") {
    val plan = new ReplicatePlan(9, src(9), 8, bucket)
    val clustered = plan.take(8).filter(_.kind == "clustered").toVector
    assert(clustered.nonEmpty)
    clustered.foreach(b =>
      assert(b.changes.map(c => bucket(c.id)).distinct.size <= 2))
  }

  test("the final state keeps the latest change per element") {
    val s = src(11)
    val catchup = new ReplicatePlan(11, s, 8, bucket).next()
    assert(catchup.kind == "catchup")
    val repeated = catchup.changes.groupBy(_.id).filter(_._2.size > 1)
    assert(repeated.nonEmpty)
    repeated.foreach { case (id, cs) =>
      val last = catchup.finalState((cs.head.etype, id))
      assert(last.seqnum == cs.map(_.seqnum).max)
      assert(last.version == cs.map(_.version).max)
    }
  }
}
