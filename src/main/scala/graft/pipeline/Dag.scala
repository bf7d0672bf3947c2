package graft.pipeline

import java.util.concurrent.{Executor, LinkedBlockingQueue}
import scala.collection.mutable

/** Driver-side DAG scheduling over model nodes.
  *
  * The reference finds terminal nodes (no `nexts`) and DFS post-orders from
  * each (/root/reference/src/session.rs:157-176, 282-292). Its recursion has
  * NO cycle detection — a cyclic pipeline stack-overflows. We detect cycles
  * and fail with the cycle's members (documented behavioral improvement).
  */
object Dag {

  /** @param prevs node id → ids it depends on (must run before it) */
  final case class Graph(prevs: Map[String, Set[String]]) {
    lazy val nexts: Map[String, Set[String]] = {
      val m = mutable.Map[String, mutable.Set[String]]()
      prevs.keys.foreach(k => m.getOrElseUpdate(k, mutable.Set()))
      prevs.foreach { case (n, ps) =>
        ps.foreach(p => m.getOrElseUpdate(p, mutable.Set()) += n)
      }
      m.map { case (k, v) => k -> v.toSet }.toMap
    }
  }

  /** Topological order (dependencies first). Matches the reference's
    * traversal shape: start from terminals, DFS into prevs, post-order
    * append, dedupe. Throws GenericError on a cycle.
    */
  def topoSort(g: Graph): Seq[String] = {
    detectCycle(g).foreach { cyc =>
      throw GenericError(
        s"Cycle detected in model graph: ${cyc.mkString(" -> ")}")
    }
    val terminals = g.prevs.keys.filter(id => g.nexts.getOrElse(id, Set.empty).isEmpty)
    val seen = mutable.LinkedHashSet[String]()
    // explicit stack, not recursion: a linear chain of N models would
    // otherwise recurse N deep and StackOverflowError — the exact failure
    // the header claims to fix relative to the reference
    val stack = mutable.ArrayBuffer[(String, Boolean)]()
    terminals.toSeq.sorted.reverseIterator.foreach(t => stack += ((t, false)))
    while (stack.nonEmpty) {
      val (id, expanded) = stack.remove(stack.length - 1)
      if (!seen.contains(id)) {
        if (expanded) seen += id
        else {
          stack += ((id, true)) // post-order: append after the prevs
          g.prevs.getOrElse(id, Set.empty).toSeq.sorted.reverseIterator
            .foreach(p => stack += ((p, false)))
        }
      }
    }
    seen.toSeq
  }

  /** First cycle found, if any (three-color DFS on an explicit stack —
    * iterative for the same deep-chain reason as [[topoSort]]).
    */
  def detectCycle(g: Graph): Option[Seq[String]] = {
    val color = mutable.Map[String, Int]().withDefaultValue(0) // 0 white 1 grey 2 black
    val path = mutable.ArrayBuffer[String]()
    // frames: (id, entering). entering=true colors grey and pushes prevs;
    // entering=false is the post-visit that blackens and pops the path.
    val stack = mutable.ArrayBuffer[(String, Boolean)]()
    for (root <- g.prevs.keys.toSeq.sorted) {
      if (color(root) == 0) {
        stack += ((root, true))
        while (stack.nonEmpty) {
          val (id, entering) = stack.remove(stack.length - 1)
          if (!entering) { color(id) = 2; path.remove(path.length - 1) }
          else color(id) match {
            case 1 =>
              val i = path.indexOf(id)
              return Some(path.drop(i).toSeq :+ id)
            case 2 => ()
            case _ =>
              color(id) = 1; path += id
              stack += ((id, false))
              g.prevs.getOrElse(id, Set.empty).toSeq.sorted.reverseIterator
                .foreach(p => stack += ((p, true)))
          }
        }
      }
    }
    None
  }

  /** Dependency levels: level 0 has no upstreams, level k+1 depends on
    * level k. Execution does not run level by level (see [[execute]]);
    * the levels lay out `viz` columns and give the benchmark its wave
    * counts.
    */
  def waves(g: Graph): Seq[Seq[String]] = {
    val order = topoSort(g)
    val level = mutable.Map[String, Int]()
    order.foreach { id =>
      val ps = g.prevs.getOrElse(id, Set.empty)
      level(id) = if (ps.isEmpty) 0 else ps.map(p => level.getOrElse(p, 0)).max + 1
    }
    order.groupBy(level).toSeq.sortBy(_._1).map(_._2.toSeq)
  }

  /** Runs each node of `order` (a topological order of nodes of `g`) once
    * its last upstream in `order` completes — no barrier between levels —
    * on at most `slots` threads of `pool`, lowest `order` index first (one
    * slot: inline, in `order`). Callbacks run on the calling thread, so
    * they need no locking: `start(id)`, once every upstream completed,
    * returns the work for a slot; `done(result)` true aborts — running
    * nodes finish, and `skipped(id)` stands in for each undispatched one.
    * Results come in `order`; a throwable from a node's work rethrows here.
    */
  def execute[R](g: Graph, order: Seq[String], slots: Int, pool: Executor)(
      start: String => () => R, done: R => Boolean,
      skipped: String => R): Seq[R] = {
    val idx = order.zipWithIndex.toMap
    def inRun(ids: Option[Set[String]]) = ids.toSeq.flatten.flatMap(idx.get)
    val waitingOn = order.map(id => inRun(g.prevs.get(id)).size).toArray
    val ready = mutable.PriorityQueue(
      order.indices.filter(waitingOn(_) == 0): _*)(Ordering.Int.reverse)
    val results = Array.fill[Option[R]](order.size)(None)
    val completed = new LinkedBlockingQueue[(Int, Either[Throwable, R])]()
    val run: Executor = if (slots == 1) _.run() else pool
    var (running, aborted) = (0, false)
    while ((!aborted && ready.nonEmpty) || running > 0) {
      while (!aborted && ready.nonEmpty && running < slots) {
        val i = ready.dequeue()
        val work = start(order(i))
        running += 1
        // fatal throwables too: a lost completion would hang take()
        run.execute(() => completed.put(i ->
          (try Right(work()) catch { case t: Throwable => Left(t) })))
      }
      val (i, outcome) = completed.take()
      running -= 1
      val r = outcome.toTry.get
      results(i) = Some(r)
      aborted |= done(r)
      inRun(g.nexts.get(order(i))).foreach { j =>
        waitingOn(j) -= 1
        if (waitingOn(j) == 0) ready += j
      }
    }
    order.indices.map(i => results(i).getOrElse(skipped(order(i))))
  }
}
