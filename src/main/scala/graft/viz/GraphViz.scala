package graft.viz

import graft.pipeline.{Dag, ModelNode}

/** DAG visualization: DOT text + a dependency-free layered SVG renderer
  * (the reference renders DOT → SVG via layout-rs,
  * /root/reference/src/graphviz.rs:11-41; no such dep resolves offline, so
  * the SVG writer is a small longest-path layered layout of our own).
  */
object GraphViz {

  /** DOT source, same shape as the reference (`digraph LR`, one line per
    * node, `a -> b;` per edge). With `preview` set (`viz --changed-only`),
    * each node carries a would-skip (green, `[skip]`) or would-execute
    * (red, `[run]`) annotation against the stored fingerprints — the
    * look-before-you-run a daily user wants ahead of an expensive run.
    */
  def renderDot(nodeNames: Seq[String], nodeMap: Map[String, ModelNode],
                preview: Option[Set[String]] = None,
                exposures: Seq[graft.pipeline.Exposure] = Nil): String = {
    // ids are quoted: a model file named daily-orders.sql is a legal model
    // but `daily-orders` is not a bare DOT identifier. Backslash first —
    // an id ending in \ would otherwise escape the closing quote
    def q(s: String) =
      "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    // the \n in the label is DOT's own line-break escape — appended AFTER
    // id escaping so q() cannot double-escape it
    def tagged(s: String, tags: Seq[String]) =
      q(s).dropRight(1) + tags.map(t => "\\n[" + t + "]").mkString + "\""
    val nodes = nodeNames.map { s =>
      // non-view materializations annotate the node (box shape + a label
      // tag) — a pipeline mixing views/tables/incremental/snapshot reads
      // its persistence boundaries straight off the graph; plain views
      // stay the reference's bare-node DOT
      val mat = nodeMap.get(s).map(_.mat).filterNot(_ == "view")
      val prevTag = preview.map(skips => if (skips(s)) "skip" else "run")
      val attrs =
        prevTag.map(t =>
          if (t == "skip") "color=green" else "color=red").toSeq ++
        mat.map(_ => "shape=box").toSeq ++ {
          val tags = prevTag.toSeq ++ mat.toSeq
          if (tags.nonEmpty) Seq("label=" + tagged(s, tags)) else Nil
        }
      if (attrs.isEmpty) s"\t${q(s)};"
      else s"\t${q(s)} [${attrs.mkString(", ")}];"
    }.mkString("\n")
    val edges = nodeNames.flatMap { name =>
      nodeMap.get(name).toSeq
        .flatMap(_.nexts.toSeq.sorted.map(n => s"\t${q(name)} -> ${q(n)};"))
    }.mkString("\n")
    // exposures are graph LEAVES with no SQL of their own: note-shaped,
    // dashed, labeled with their declared type; edges point model →
    // exposure. Only exposures whose every dependency is in the rendered
    // selection appear (a --select subgraph must not sprout dangling
    // exposure edges — the same rule the model edges follow).
    val shown = exposures.filter(_.dependsOn.forall(nodeNames.contains))
    val exNodes = shown.map { ex =>
      s"\t${q(ex.name)} [shape=note, style=dashed, " +
        s"label=${tagged(ex.name, Seq(ex.exposureType))}];"
    }.mkString("\n")
    val exEdges = shown.flatMap { ex =>
      ex.dependsOn.sorted.map(d => s"\t${q(d)} -> ${q(ex.name)};")
    }.mkString("\n")
    val exBlock =
      if (shown.isEmpty) "" else s"\n $exNodes \n $exEdges"
    s"digraph LR {\n $nodes \n $edges$exBlock \n}"
  }

  /** Layered SVG: levels = longest path from sources; nodes are rounded
    * rects on a grid; edges are lines with arrowheads. `preview` mirrors
    * [[renderDot]]'s would-skip (green) / would-execute (red) split.
    */
  def renderSvg(nodeNames: Seq[String], nodeMap: Map[String, ModelNode],
                preview: Option[Set[String]] = None,
                exposures: Seq[graft.pipeline.Exposure] = Nil): String = {
    // exposures join the layout as extra leaves (same visibility rule as
    // [[renderDot]]: only when every dependency is in the selection) —
    // dashed rects so a consumer reads as declared, not executable
    val shownEx = exposures.filter(_.dependsOn.forall(nodeNames.contains))
    val exIds = shownEx.map(_.name)
    val exDeps = shownEx.map(e => e.name -> e.dependsOn.toSet).toMap
    val graph = Dag.Graph((nodeNames ++ exIds).map { id =>
      id -> nodeMap.get(id).map(_.prevs.filter(nodeMap.contains))
        .orElse(exDeps.get(id)).getOrElse(Set.empty)
    }.toMap)
    val levels = Dag.waves(graph)
    val boxW = 180; val boxH = 40; val hGap = 60; val vGap = 50

    val pos: Map[String, (Int, Int)] = levels.zipWithIndex.flatMap {
      case (wave, li) =>
        wave.sorted.zipWithIndex.map { case (id, ni) =>
          id -> (ni * (boxW + hGap) + 20, li * (boxH + vGap) + 20)
        }
    }.toMap

    val width = math.max(400,
      levels.map(_.size).maxOption.getOrElse(1) * (boxW + hGap) + 40)
    val height = math.max(200, levels.size * (boxH + vGap) + 40)

    def esc(s: String) = s.replace("&", "&amp;")
      .replace("<", "&lt;").replace(">", "&gt;")
    val exIdSet = exIds.toSet
    val rects = pos.toSeq.sortBy(_._1).map { case (id, (x, y)) =>
      val isEx = exIdSet(id)
      val fill =
        if (isEx) "#f7f3e8" // exposure: declared consumer, not executable
        else preview match {
          case None => "#eef2f7"
          case Some(skips) if skips(id) => "#e2f5e2" // would skip
          case Some(_) => "#fbe4e4"                  // would execute
        }
      val dash = if (isEx) " stroke-dasharray=\"6,3\"" else ""
      s"""<rect x="$x" y="$y" width="$boxW" height="$boxH" rx="6" fill="$fill" stroke="#4a5568"$dash/>
         |<text x="${x + boxW / 2}" y="${y + boxH / 2 + 5}" text-anchor="middle" font-family="monospace" font-size="13">${esc(id)}</text>""".stripMargin
    }.mkString("\n")

    val lines = (nodeNames.flatMap { from =>
      nodeMap.get(from).toSeq.flatMap(_.nexts.toSeq.sorted).flatMap { to =>
        for { (x1, y1) <- pos.get(from); (x2, y2) <- pos.get(to) } yield
          s"""<line x1="${x1 + boxW / 2}" y1="${y1 + boxH}" x2="${x2 + boxW / 2}" y2="$y2" stroke="#4a5568" marker-end="url(#arr)"/>"""
      }
    } ++ shownEx.flatMap { ex =>
      ex.dependsOn.sorted.flatMap { from =>
        for { (x1, y1) <- pos.get(from); (x2, y2) <- pos.get(ex.name) } yield
          s"""<line x1="${x1 + boxW / 2}" y1="${y1 + boxH}" x2="${x2 + boxW / 2}" y2="$y2" stroke="#4a5568" stroke-dasharray="6,3" marker-end="url(#arr)"/>"""
      }
    }).mkString("\n")

    s"""<svg xmlns="http://www.w3.org/2000/svg" width="$width" height="$height">
       |<defs><marker id="arr" markerWidth="8" markerHeight="8" refX="7" refY="3" orient="auto">
       |<path d="M0,0 L7,3 L0,6 Z" fill="#4a5568"/></marker></defs>
       |$rects
       |$lines
       |</svg>""".stripMargin
  }
}
