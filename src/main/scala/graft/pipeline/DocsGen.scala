package graft.pipeline

import org.apache.spark.sql.SparkSession

/** dbt `docs generate` parity: a machine-readable catalog (JSON) and a
  * human-readable index (markdown) of the project — every model with its
  * materialization, dependencies, tags, tests (full describe, so severity
  * and store_failures flags are visible), hooks, freshness bounds, and —
  * when the model has been materialized (this run or restored from
  * db_path) — the actual column names and types read back from the
  * warehouse. Like dbt's, the catalog half needs a prior `run`: a model
  * that was never materialized documents with `"materialized": false`
  * and an empty column list instead of failing the whole generation.
  *
  * Everything here is driver-side metadata (the reference's orchestration
  * tier); the only Spark touch is a schema lookup per model — no jobs,
  * no data reads.
  */
object DocsGen {

  private def jstr(s: String): String = graft.Verify.jsonStr(s)

  private def jarr(xs: Seq[String]): String =
    xs.map(jstr).mkString("[", ",", "]")

  /** Column (name, type) pairs read back from the warehouse; None when
    * the model is not materialized/restored in this session.
    */
  private def columnsOf(spark: SparkSession,
                        id: String): Option[Seq[(String, String)]] =
    try Some(spark.table(id).schema.fields.toSeq
      .map(f => f.name -> f.dataType.simpleString))
    catch { case _: Exception => None }

  /** One warehouse schema lookup per model, shared by both renderers —
    * the CLI passes this to catalogJson AND catalogMarkdown so a large
    * project pays N catalog round-trips, not 2N.
    */
  def columnsMap(spark: SparkSession,
                 order: Seq[String]): Map[String, Option[Seq[(String, String)]]] =
    order.map(id => id -> columnsOf(spark, id)).toMap

  def catalogJson(order: Seq[String], nodeMap: Map[String, ModelNode],
                  colsMap: Map[String, Option[Seq[(String, String)]]],
                  exposures: Seq[Exposure]): String = {
    val models = order.map { id =>
      val n = nodeMap(id)
      val cols = colsMap.getOrElse(id, None)
      val colJson = cols.getOrElse(Nil).map { case (c, t) =>
        s"""{"name":${jstr(c)},"type":${jstr(t)}}"""
      }.mkString("[", ",", "]")
      val freshness = n.cfg.freshness.map { f =>
        s"""{"warn_after_seconds":${f.warnAfterSeconds.getOrElse(-1L)},""" +
          s""""error_after_seconds":${f.errorAfterSeconds.getOrElse(-1L)}}"""
      }.getOrElse("null")
      s"""{"id":${jstr(id)},
         |"path":${jstr(n.path)},
         |"materialize":${jstr(n.mat)},
         |"materialized":${cols.isDefined},
         |"unique_key":${n.cfg.uniqueKey.fold("null")(jstr)},
         |"incremental_strategy":${n.cfg.incrementalStrategy.fold("null")(jstr)},
         |"partition_by":${n.cfg.partitionBy.fold("null")(jstr)},
         |"on_schema_change":${n.cfg.onSchemaChange.fold("null")(jstr)},
         |"tags":${jarr(n.cfg.tags)},
         |"depends_on":${jarr(n.prevs.toSeq.sorted)},
         |"referenced_by":${jarr(n.nexts.toSeq.sorted)},
         |"tests":${jarr(n.cfg.tests.map(_.describe))},
         |"pre_hooks":${jarr(n.cfg.preHooks)},
         |"post_hooks":${jarr(n.cfg.postHooks)},
         |"freshness":$freshness,
         |"columns":$colJson}""".stripMargin.replace("\n", "")
    }
    val exJson = exposures.map { ex =>
      s"""{"name":${jstr(ex.name)},"type":${jstr(ex.exposureType)},""" +
        s""""owner":${ex.owner.fold("null")(jstr)},""" +
        s""""url":${ex.url.fold("null")(jstr)},""" +
        s""""depends_on":${jarr(ex.dependsOn)}}"""
    }.mkString("[", ",", "]")
    s"""{"models":${models.mkString("[", ",", "]")},""" +
      s""""n_models":${order.size},"exposures":$exJson}"""
  }

  def catalogMarkdown(order: Seq[String], nodeMap: Map[String, ModelNode],
                      colsMap: Map[String, Option[Seq[(String, String)]]],
                      exposures: Seq[Exposure]): String = {
    val sb = new StringBuilder
    sb ++= s"# Project catalog\n\n${order.size} models in execution " +
      "order. Columns reflect the warehouse as restored/built in the " +
      "generating session; un-materialized models show none.\n"
    order.foreach { id =>
      val n = nodeMap(id)
      sb ++= s"\n## $id\n\n"
      sb ++= s"- **materialize**: ${n.mat}"
      n.cfg.uniqueKey.foreach(k => sb ++= s" (unique_key: `$k`)")
      n.cfg.incrementalStrategy.foreach(s => sb ++= s" [strategy: $s]")
      sb ++= "\n"
      if (n.prevs.nonEmpty)
        sb ++= s"- **depends on**: ${n.prevs.toSeq.sorted.map("`" + _ + "`").mkString(", ")}\n"
      if (n.cfg.tags.nonEmpty)
        sb ++= s"- **tags**: ${n.cfg.tags.mkString(", ")}\n"
      if (n.cfg.tests.nonEmpty)
        sb ++= s"- **tests**: ${n.cfg.tests.map("`" + _.describe + "`").mkString(", ")}\n"
      n.cfg.freshness.foreach { f =>
        sb ++= s"- **freshness**: warn>" +
          s"${f.warnAfterSeconds.fold("-")(_.toString)}s, error>" +
          s"${f.errorAfterSeconds.fold("-")(_.toString)}s\n"
      }
      colsMap.getOrElse(id, None) match {
        case Some(cols) if cols.nonEmpty =>
          sb ++= "\n| column | type |\n|---|---|\n"
          cols.foreach { case (c, t) => sb ++= s"| $c | $t |\n" }
        case Some(_) => sb ++= "\n(zero columns)\n"
        case None => sb ++= "\n(not materialized — run the project to " +
          "populate columns)\n"
      }
    }
    if (exposures.nonEmpty) {
      sb ++= "\n# Exposures\n"
      exposures.foreach { ex =>
        sb ++= s"\n## ${ex.name} (${ex.exposureType})\n\n"
        ex.owner.foreach(o => sb ++= s"- **owner**: $o\n")
        ex.url.foreach(u => sb ++= s"- **url**: $u\n")
        sb ++= s"- **depends on**: ${ex.dependsOn
          .map("`" + _ + "`").mkString(", ")}\n"
      }
    }
    sb.result()
  }
}
