package graft.pipeline

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue,
  CountDownLatch, Executor, Executors, ThreadLocalRandom, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

class DagSpec extends AnyFunSuite {

  private def randomDag(rnd: scala.util.Random): Map[String, Set[String]] = {
    val n = 1 + rnd.nextInt(20)
    val ids = (0 until n).map(i => s"n$i")
    // edges only from lower to higher index → guaranteed acyclic
    ids.zipWithIndex.map { case (id, i) =>
      id -> (0 until i).filter(_ => rnd.nextBoolean()).map(ids).toSet
    }.toMap
  }

  private def withPool[A](slots: Int)(f: Executor => A): A = {
    val pool = Executors.newFixedThreadPool(slots)
    try f(pool) finally pool.shutdownNow()
  }

  test("topoSort puts dependencies first") {
    val g = Dag.Graph(Map(
      "c" -> Set("a", "b"), "b" -> Set("a"), "a" -> Set.empty[String],
      "d" -> Set("c")))
    val order = Dag.topoSort(g)
    assert(order.indexOf("a") < order.indexOf("b"))
    assert(order.indexOf("b") < order.indexOf("c"))
    assert(order.indexOf("c") < order.indexOf("d"))
    assert(order.toSet == Set("a", "b", "c", "d"))
  }

  test("cycle detection raises (reference stack-overflows here)") {
    val g = Dag.Graph(Map("a" -> Set("b"), "b" -> Set("a")))
    val e = intercept[GenericError](Dag.topoSort(g))
    assert(e.msg.contains("Cycle"))
  }

  test("self-cycle detected") {
    val g = Dag.Graph(Map("a" -> Set("a")))
    intercept[GenericError](Dag.topoSort(g))
  }

  test("waves respect dependencies and cover all nodes") {
    val g = Dag.Graph(Map(
      "c" -> Set("a", "b"), "b" -> Set.empty[String], "a" -> Set.empty[String]))
    val ws = Dag.waves(g)
    assert(ws.head.toSet == Set("a", "b"))
    assert(ws(1) == Seq("c"))
  }

  test("a 50k-deep linear chain sorts without stack overflow") {
    // the header claims to fix the reference's recursion blowup — the
    // iterative topoSort/detectCycle must actually survive deep chains
    val n = 50000
    val g = Dag.Graph(
      (1 until n).map(i => s"m$i" -> Set(s"m${i - 1}")).toMap +
        ("m0" -> Set.empty[String]))
    val order = Dag.topoSort(g)
    assert(order.length == n)
    assert(order.head == "m0" && order.last == s"m${n - 1}")
    // a cycle at the bottom of the same deep chain is still found
    val cyc = Dag.Graph(
      (1 until n).map(i => s"m$i" -> Set(s"m${i - 1}")).toMap +
        ("m0" -> Set(s"m${n - 1}")))
    intercept[GenericError](Dag.topoSort(cyc))
  }

  test("property: 200 random DAGs — topo order respects all edges") {
    val rnd = new scala.util.Random(42)
    (1 to 200).foreach { _ =>
      val prevs = randomDag(rnd)
      val order = Dag.topoSort(Dag.Graph(prevs))
      assert(order.toSet == prevs.keySet)
      prevs.foreach { case (id, ps) =>
        ps.foreach(p => assert(order.indexOf(p) < order.indexOf(id)))
      }
    }
  }

  test("execute: no barrier between levels — a level-0 node waits on a " +
      "level-1 node of an independent branch") {
    // a → b and c are independent; c blocks until b has run. Level by
    // level, b would wait for c's level to finish: a timeout, not a pass.
    val g = Dag.Graph(Map("a" -> Set.empty[String], "b" -> Set("a"),
      "c" -> Set.empty[String]))
    val bRan = new CountDownLatch(1)
    val rs = withPool(2) { pool =>
      Dag.execute[String](g, Dag.topoSort(g), 2, pool)(
        start = id => () => id match {
          case "b" => bRan.countDown(); "b"
          case "c" => s"c ${bRan.await(10, TimeUnit.SECONDS)}"
          case other => other
        },
        done = _ => false, skipped = id => s"skipped $id")
    }
    assert(rs == Seq("a", "b", "c true"))
  }

  test("execute over 200 random DAGs: each node runs exactly once, after " +
      "every upstream finished") {
    val rnd = new scala.util.Random(42)
    withPool(4) { pool =>
      (1 to 200).foreach { _ =>
        val prevs = randomDag(rnd)
        val g = Dag.Graph(prevs)
        val order = Dag.topoSort(g)
        val finished = ConcurrentHashMap.newKeySet[String]()
        val runs = new ConcurrentLinkedQueue[String]()
        val late = new ConcurrentLinkedQueue[String]()
        val rs = Dag.execute[String](g, order, 4, pool)(
          start = id => () => {
            if (!prevs(id).forall(finished.contains)) late.add(id)
            runs.add(id)
            Thread.sleep(ThreadLocalRandom.current().nextInt(2).toLong)
            finished.add(id)
            id
          },
          done = _ => false, skipped = id => s"skipped $id")
        assert(rs == order)
        assert(late.isEmpty, s"started before an upstream finished: $late")
        assert(runs.asScala.toSeq.sorted == order.sorted)
      }
    }
  }

  test("execute with one slot runs inline in exactly topoSort order") {
    val rnd = new scala.util.Random(7)
    (1 to 50).foreach { _ =>
      val g = Dag.Graph(randomDag(rnd))
      val order = Dag.topoSort(g)
      val caller = Thread.currentThread()
      val ran = scala.collection.mutable.ArrayBuffer[String]()
      Dag.execute[String](g, order, 1, (_: Runnable) => fail("one slot runs inline"))(
        start = id => () => {
          assert(Thread.currentThread() eq caller); ran += id; id
        },
        done = _ => false, skipped = id => fail(s"$id skipped"))
      assert(ran == order)
    }
  }

  test("execute after an abort dispatches nothing more; every " +
      "undispatched node reports the skip result") {
    // x fails and aborts; y (independent, running beside x when there
    // are slots) finishes only after the abort, so z is never dispatched
    val g = Dag.Graph(Map("x" -> Set.empty[String], "x2" -> Set("x"),
      "y" -> Set.empty[String], "z" -> Set("y")))
    val order = Seq("x", "x2", "y", "z")
    Seq(1 -> Seq("failed x", "SKIP x2", "SKIP y", "SKIP z"),
        2 -> Seq("failed x", "SKIP x2", "ok y", "SKIP z")).foreach {
      case (slots, want) =>
        val aborted = new CountDownLatch(1)
        val dispatched = new AtomicInteger()
        val rs = withPool(slots) { pool =>
          Dag.execute[String](g, order, slots, pool)(
            start = { id =>
              dispatched.incrementAndGet()
              () => id match {
                case "x" => "failed x"
                case "y" =>
                  assert(aborted.await(10, TimeUnit.SECONDS)); "ok y"
                case other => s"ok $other"
              }
            },
            done = { r =>
              val abort = r.startsWith("failed")
              if (abort) aborted.countDown()
              abort
            },
            skipped = id => s"SKIP $id")
        }
        assert(rs == want, s"slots=$slots")
        assert(dispatched.get == want.count(!_.startsWith("SKIP")))
    }
  }
}
