package graft.ops

import graft.SharedSpark
import graft.dedup.ConnectedComponents
import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random

/** Gates that hold two concurrent `components()` calls at chosen points;
  * a top-level object, so task closures reach these instances instead of
  * serialized copies.
  */
object OverlapGates {
  @volatile var aInside, bInside, aDone: java.util.concurrent.CountDownLatch = _
  def reset(): Unit = {
    aInside = new java.util.concurrent.CountDownLatch(1)
    bInside = new java.util.concurrent.CountDownLatch(1)
    aDone = new java.util.concurrent.CountDownLatch(1)
  }
  def await(l: java.util.concurrent.CountDownLatch): Unit =
    assert(l.await(120, java.util.concurrent.TimeUnit.SECONDS), "gate timed out")
}

class ConnectedComponentsSpec extends AnyFunSuite with SharedSpark {
  import spark.implicits._

  /** Reference union-find over the collected edge list. */
  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  private def run(edges: Seq[(Long, Long)]): Map[Long, Long] =
    ConnectedComponents.components(edges.toDF("a", "b"), "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("matches union-find on random graphs") {
    val rnd = new Random(7)
    for (_ <- 1 to 3) {
      val n = 60
      val edges = Seq.fill(70)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(e => e._1 != e._2)
      assert(run(edges) == unionFind(edges))
    }
  }

  test("long chain needs multiple propagation rounds and still converges") {
    // a path graph 0-1-2-...-19: diameter 19 forces many rounds
    val chain = (0L until 19L).map(i => (i, i + 1))
    val got = run(chain)
    assert(got.values.toSet == Set(0L), got.toString)
    assert(got.keySet == (0L to 19L).toSet)
  }

  test("under-converged run throws instead of returning a wrong clustering") {
    val chain = (0L until 12L).map(i => (i, i + 1))
    intercept[IllegalArgumentException] {
      ConnectedComponents.components(chain.toDF("a", "b"), "a", "b", maxIter = 2)
    }
  }

  private def runStar(edges: Seq[(Long, Long)], maxIter: Int = 50): Map[Long, Long] =
    ConnectedComponents.componentsByStarContraction(edges.toDF("a", "b"), "a", "b", maxIter)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("star contraction matches union-find and plain propagation on random graphs") {
    val rnd = new Random(11)
    for (_ <- 1 to 3) {
      val n = 50
      val edges = Seq.fill(60)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(e => e._1 != e._2)
      assert(runStar(edges) == unionFind(edges))
    }
  }

  test("star contraction early exit is sound across graph shapes (round 12)") {
    // the round-12 loop exits half a round early when the large-star
    // relation repeats; this differential (vs union-find) sweeps shapes
    // that stress the exit — chains (many rounds), dense blobs (one
    // round), disjoint mixtures, and the documented large==e
    // counterexample family (stars hanging off non-min centers)
    val rnd = new Random(42)
    for (trial <- 1 to 8) {
      val n = 10 + rnd.nextInt(40)
      val m = 1 + rnd.nextInt(2 * n)
      val edges = Seq.fill(m)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(e => e._1 != e._2)
      if (edges.nonEmpty)
        assert(runStar(edges) == unionFind(edges), s"trial $trial: $edges")
    }
    // the counterexample shape from the round-12 analysis: large(e) == e
    // but small-star still rewrites — a wrong early exit would emit node
    // 3 with two labels
    val trap = Seq((5L, 3L), (5L, 2L), (4L, 3L), (4L, 1L))
    assert(runStar(trap) == unionFind(trap))
  }

  test("star contraction closes a chain whose diameter defeats bounded propagation") {
    // a 60-node path: propagation at maxIter=5 must refuse; star
    // contraction closes it in O(log n) rounds
    val chain = (0L until 59L).map(i => (i, i + 1))
    intercept[IllegalArgumentException] {
      ConnectedComponents.components(chain.toDF("a", "b"), "a", "b", maxIter = 5)
    }
    val got = runStar(chain, maxIter = 15)
    assert(got.values.toSet == Set(0L), got.filter(_._2 != 0L).toString)
    assert(got.keySet == (0L to 59L).toSet)
  }

  test("overlapping components() calls leave parallelismFirst as it was") {
    import org.apache.spark.sql.functions.{col, udf}
    val key = "spark.sql.adaptive.coalescePartitions.parallelismFirst"
    val before = spark.conf.getOption(key)
    OverlapGates.reset()
    // A enters first and waits inside until B has entered; B then waits
    // until A has returned, so B — the call that saw A's setting when it
    // entered — is the last to leave
    val gateA = udf { (x: Long) =>
      OverlapGates.aInside.countDown(); OverlapGates.await(OverlapGates.bInside); x }
    val gateB = udf { (x: Long) =>
      OverlapGates.bInside.countDown(); OverlapGates.await(OverlapGates.aDone); x }
    val edges = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("a", "b")
    def run(gate: org.apache.spark.sql.expressions.UserDefinedFunction): Map[Long, Long] =
      ConnectedComponents.components(
        edges.select(gate(col("a")).as("a"), col("b")).coalesce(1), "a", "b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    @volatile var gotA, gotB: Map[Long, Long] = null
    val ta = new Thread(() => gotA = run(gateA))
    val tb = new Thread(() => gotB = run(gateB))
    ta.start()
    OverlapGates.await(OverlapGates.aInside)
    tb.start()
    ta.join(180000)
    OverlapGates.aDone.countDown()
    tb.join(180000)
    val want = unionFind(Seq((1L, 2L), (2L, 3L), (5L, 6L)))
    assert(gotA == want && gotB == want)
    assert(spark.conf.getOption(key) == before,
      s"$key left at ${spark.conf.getOption(key)} (was $before)")
  }
}
