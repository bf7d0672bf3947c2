package graft.pipeline

/** One model = one .sql file (/root/reference/src/node.rs:29-38).
  * Orchestration state is driver-side only — the distributed work is the
  * Spark jobs the rendered SQL plans into.
  *
  * @param id           filename stem; directory ignored (src/session.rs:87-92)
  * @param path         source file path (diagnostics)
  * @param rawSrc       file contents as read
  * @param renderedSrc  after comment-strip, var/incremental-context render
  *                     and macro render; NOT shimmed (the dialect shim
  *                     runs per statement when the node executes)
  * @param prevs        model ids this node reads FROM
  * @param nexts        model ids that read this node
  * @param cfg          the model's `models.<id>` config: `materialize`
  *                     (None/"view" → temp view; "table" → saved table;
  *                     "incremental" → saved table merged on later runs;
  *                     "snapshot" → SCD2 history table), tests, hooks …
  */
final case class ModelNode(
    id: String,
    path: String,
    rawSrc: String,
    renderedSrc: String = "",
    prevs: Set[String] = Set.empty,
    nexts: Set[String] = Set.empty,
    cfg: ModelConfig = ModelConfig()) {
  /** The materialization, lowercased; None = view. */
  def mat: String = cfg.materialize.getOrElse("view").toLowerCase
}
