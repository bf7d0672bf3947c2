package graft.viz

import java.nio.file.Paths
import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.{PipelineConfig, PipelineSession}

/** Pins the DOT + layered-SVG renderers against the real parity example
  * (previously the thinnest-covered Layer-A surface): node/edge counts
  * must match the built graph exactly, layering must respect every
  * dependency edge, and special characters must escape.
  */
class GraphVizSpec extends AnyFunSuite {

  // graph building never touches Spark (PipelineSession.spark is lazy), so
  // the spec runs without a session
  private lazy val (order, nodeMap) = {
    val config = PipelineConfig.load(Paths.get("examples/parity/config.yaml"))
    new PipelineSession(null, config).buildGraph()
  }

  test("DOT: one quoted line per node, one per edge, reference shape") {
    val dot = GraphViz.renderDot(order, nodeMap)
    assert(dot.startsWith("digraph LR {"))
    // non-view materializations annotate the node; views stay bare
    locally {
      val withMat = nodeMap.map { case (id, n) =>
        id -> (if (id == order.head)
                 n.copy(cfg = n.cfg.copy(materialize = Some("snapshot")))
               else n)
      }
      val d2 = GraphViz.renderDot(order, withMat)
      assert(d2.contains("shape=box") && d2.contains("[snapshot]"), d2)
      assert(d2.contains("\"" + order.last + "\";"), d2)
    }
    order.foreach(id => assert(dot.contains("\"" + id + "\";"), id))
    val expectedEdges = nodeMap.values.map(_.nexts.size).sum
    assert("->".r.findAllIn(dot).size == expectedEdges)
    // a concrete edge the parity pipeline guarantees
    assert(dot.contains("\"src_orders\" -> \"order_ages\";"))
  }

  test("SVG: every node a rect+label, every edge a line, deps point down") {
    val svg = GraphViz.renderSvg(order, nodeMap)
    assert("<rect ".r.findAllIn(svg).size == order.size)
    order.foreach(id => assert(svg.contains(s">$id</text>"), id))
    val expectedEdges = nodeMap.values
      .map(_.nexts.count(nodeMap.contains)).sum
    assert("<line ".r.findAllIn(svg).size == expectedEdges)
    // layered layout: an edge's source row sits strictly above its target
    val yOf = """<rect x="\d+" y="(\d+)"[^>]*/>\s*<text [^>]*>([^<]+)</text>"""
      .r.findAllMatchIn(svg).map(m => m.group(2) -> m.group(1).toInt).toMap
    for {
      (id, node) <- nodeMap
      next <- node.nexts if nodeMap.contains(next)
    } assert(yOf(id) < yOf(next), s"$id -> $next not layered downward")
  }

  test("--changed-only preview: DOT tags would-skip nodes green/[skip] " +
      "and would-execute nodes red/[run]; SVG fill splits the same way") {
    val skips = Set(order.head)
    val dot = GraphViz.renderDot(order, nodeMap, Some(skips))
    assert(dot.contains(
      "\"" + order.head + "\" [color=green, label=\"" + order.head +
        "\\n[skip]\"];"), dot)
    order.tail.foreach { id =>
      assert(dot.contains(
        "\"" + id + "\" [color=red, label=\"" + id + "\\n[run]\"];"), dot)
    }
    val svg = GraphViz.renderSvg(order, nodeMap, Some(skips))
    assert("#e2f5e2".r.findAllIn(svg).size == 1)      // one green skip
    assert("#fbe4e4".r.findAllIn(svg).size == order.size - 1)
    // no preview → no status colors anywhere (the plain rendering)
    val plain = GraphViz.renderSvg(order, nodeMap)
    assert(!plain.contains("#e2f5e2") && !plain.contains("#fbe4e4"))
  }

  test("special characters in model ids stay well-formed in both formats") {
    import graft.pipeline.ModelNode
    val weird = "a<b>&\"q\""
    val nm = Map(
      weird -> ModelNode(weird, "p", "s", nexts = Set("plain")),
      "plain" -> ModelNode("plain", "p", "s", prevs = Set(weird)))
    val dot = GraphViz.renderDot(Seq(weird, "plain"), nm)
    assert(dot.contains("\"a<b>&\\\"q\\\"\"")) // DOT quotes + escapes quotes
    val svg = GraphViz.renderSvg(Seq(weird, "plain"), nm)
    assert(svg.contains("a&lt;b&gt;&amp;")) // XML-escaped label
    assert(!svg.contains(">a<b>")) // raw angle brackets never leak
  }

  test("a trailing backslash in a model id cannot escape the DOT quote") {
    import graft.pipeline.ModelNode
    val id = "daily\\"
    val nm = Map(id -> ModelNode(id, "p", "s"))
    val dot = GraphViz.renderDot(Seq(id), nm)
    assert(dot.contains("\"daily\\\\\"")) // \ doubled, quote still closes
  }
}
