package graft.pipeline

/** Error taxonomy after the reference's
  * (/root/reference/src/errors.rs:1-10, Display impl src/main.rs:51-61).
  * Its unknown-model-type variant has no counterpart: discovery only
  * reads `.sql` files, so no model can have an unknown type.
  */
sealed trait GraftError extends Exception {
  def render: String
}

final case class GenericError(msg: String) extends GraftError {
  override def getMessage: String = msg
  def render: String = s"Error: $msg"
}

/** A statement failed inside the engine; carries the offending SQL and the
  * model file it came from (src/node.rs:198-202).
  */
final case class StatementExecutionError(msg: String, sql: String, path: String)
    extends GraftError {
  override def getMessage: String = msg
  def render: String =
    s"""Error when executing statement. $msg
       |
       |Offending statement:
       |
       |$sql
       |(found in $path)""".stripMargin
}

/** A data test's VIOLATION — rows failed the declared constraint — as
  * opposed to a test that could not EXECUTE (missing test file, typo'd
  * column, unreadable model output). The distinction exists for
  * `severity: warn`: warn downgrades VIOLATIONS only; a broken test is
  * an error at any severity, or a declared warn test could silently
  * test nothing forever (the exact failure mode the loud unknown-test
  * parse guard exists to prevent). Renders in the same report shape as
  * [[StatementExecutionError]].
  */
final case class DataTestViolation(msg: String, sql: String, path: String)
    extends GraftError {
  override def getMessage: String = msg
  def render: String = StatementExecutionError(msg, sql, path).render
}

/** A data-test WARNING: the violation count satisfied `warn_if` but not
  * `error_if` — reported (and surfaced by `graft test` as WARN) without
  * failing the node, regardless of the test's severity. Distinct from
  * [[DataTestViolation]] so the run path can downgrade it unconditionally
  * while a broken test (which throws neither) still fails loudly.
  */
final case class DataTestWarning(msg: String, sql: String, path: String)
    extends GraftError {
  override def getMessage: String = msg
  def render: String = StatementExecutionError(msg, sql, path).render
}

/** A model whose `contract: enforced` declaration disagrees with the
  * schema its SELECT actually produces — missing/extra columns or a
  * data_type drift. Raised BEFORE the materialization publishes (the
  * on_schema_change discipline applied to the DECLARED schema instead
  * of the incumbent one), so a drifted model never replaces a
  * contract-conforming table.
  */
final case class ContractViolation(msg: String, sql: String, path: String)
    extends GraftError {
  override def getMessage: String = msg
  def render: String = StatementExecutionError(msg, sql, path).render
}
