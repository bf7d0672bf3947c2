package graft.pipeline

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** Cross-run persistence of pipeline materializations — the Spark analog of
  * the reference's views living in the `.duckdb` file (`db_path`,
  * /root/reference/src/node.rs:157-165, src/main.rs:126-132): after a run,
  * a SECOND session over the same db_path sees every model.
  *
  * Spark temp views are session-scoped and the default in-memory catalog
  * forgets saveAsTable entries across JVMs, so parity needs a side store:
  * each view model's rendered SELECT is written to
  * `<dbPath>/_graft_views/<id>.sql` plus an ordered manifest (pipeline topo
  * order — dependencies replay before dependents); table models record a
  * manifest entry only (their parquet already lives in the warehouse) and
  * are re-registered from their warehouse directory on restore. A missing
  * `db_path` is the reference's in-memory mode: nothing persists.
  *
  * Restore is warn-and-skip per entry, so a view over a since-dropped
  * table degrades exactly like a stale view in the reference: visible
  * error on use, no startup crash.
  */
object ViewStore {

  private def storeDir(dbPath: String): Path =
    Paths.get(dbPath).resolve("_graft_views")
  private def manifest(dbPath: String): Path =
    storeDir(dbPath).resolve("manifest.tsv")

  /** The managed-table data location for `id` under the session's
    * warehouse dir (which may be a `file:` URI or a bare path) — the ONE
    * place this resolution lives (restore and the drop-clear below share
    * it).
    */
  def warehouseLocation(spark: SparkSession, id: String): Path = {
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    // saveAsTable lowercases table names (SessionCatalog.formatTableName,
    // case-insensitive resolution), so the data dir for a mixed-case model
    // id is the lowercased one — resolving the original case would point
    // restore/drop-clear at a directory that doesn't exist
    (if (wh.startsWith("file:")) Paths.get(new java.net.URI(wh))
     else Paths.get(wh)).resolve(id.toLowerCase(java.util.Locale.ROOT))
  }

  /** DROP `table` and clear its leftover warehouse directory. A table
    * restored from a PREVIOUS session is registered EXTERNAL (the
    * in-memory catalog cannot recreate managed-ness), so a plain DROP
    * leaves its data behind and the next overwrite saveAsTable fails
    * with LOCATION_ALREADY_EXISTS — this makes the drop behave like
    * dropping the original managed table would have.
    */
  def dropTableClearingLocation(spark: SparkSession, table: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    val loc = warehouseLocation(spark, table)
    if (Files.exists(loc)) {
      val s = Files.walk(loc)
      try s.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => Files.delete(p))
      finally s.close()
    }
  }

  /** Persist a view definition. `select` is the session-ready (rewritten)
    * SQL; `raw` is the pre-shim text, stored alongside so a LATER session
    * can re-run the dialect shim when the rewritten form referenced
    * session-scoped state (e.g. the kwarg read_csv temp views) that no
    * longer exists.
    */
  def saveView(dbPath: Option[String], id: String, select: String,
               raw: Option[String] = None): Unit =
    dbPath.foreach { db =>
      Files.createDirectories(storeDir(db))
      Files.writeString(storeDir(db).resolve(s"$id.sql"), select)
      raw match {
        case Some(r) =>
          Files.writeString(storeDir(db).resolve(s"$id.raw.sql"), r)
        case None =>
          // a stale raw file from an earlier save would let the restore
          // fallback silently re-shim an OUTDATED definition
          Files.deleteIfExists(storeDir(db).resolve(s"$id.raw.sql"))
      }
      appendEntry(db, "view", id)
    }

  /** Catalog-aware variant: if `id` is a BUCKETED table (saveAsTable with
    * bucketBy — e.g. graft.ext.SinkOps.writeBucketedTable), the bucket
    * spec is recorded in the manifest so [[restore]] re-registers it with
    * CLUSTERED BY and the table keeps its zero-exchange join property in
    * later sessions — losing the spec silently re-adds the big-side
    * shuffle the bucketed layout was bought to remove.
    */
  def saveTable(spark: SparkSession, dbPath: Option[String], id: String): Unit =
    dbPath.foreach { db =>
      val extra = try {
        spark.sessionState.catalog
          .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(id))
          .bucketSpec
          .map(bs => s"\t${bs.numBuckets}\t${bs.bucketColumnNames.mkString(",")}" +
            s"\t${bs.sortColumnNames.mkString(",")}")
          .getOrElse("")
      } catch { case _: Exception => "" }
      Files.createDirectories(storeDir(db))
      appendEntry(db, "table", id, extra)
    }

  // A re-saved model MOVES to the end: models persist in execution order,
  // and a run executes the whole DAG topologically, so "last saved last"
  // keeps replay dependency-safe even when a later run adds a NEW
  // dependency in front of an existing model (keeping the old position
  // would restore the dependent before its new dependency and lose it).
  // Synchronized: --parallel models persist concurrently, and an
  // unsynchronized read-modify-write would drop a sibling's entry.
  private def appendEntry(dbPath: String, kind: String, id: String,
                          extra: String = ""): Unit = this.synchronized {
    val next = entries(dbPath).filterNot(_(1) == id).map(_.mkString("\t")) :+
      s"$kind\t$id$extra"
    Files.write(manifest(dbPath), next.asJava)
  }

  /** The manifest's entries in saved order, split on tabs: kind, id, then
    * for a bucketed table its bucket count, bucket columns and sort
    * columns. Lines without an id are skipped.
    */
  private def entries(dbPath: String): Seq[Array[String]] = {
    val m = manifest(dbPath)
    if (!Files.exists(m)) Seq.empty
    else Files.readAllLines(m).asScala.toSeq.map(_.split("\t", -1))
      .filter(_.length >= 2)
  }

  // --- run fingerprints (selective re-execution, `run --changed-only`) ---

  private def fingerprintFile(dbPath: String): Path =
    storeDir(dbPath).resolve("fingerprints.tsv")

  /** Persist the upstream-closure fingerprints of a SUCCESSFUL run —
    * the comparison base the next `--changed-only` run skips against.
    * Written whole (not merged): a model dropped from the DAG must drop
    * its entry, or re-adding it later could skip its first execution.
    */
  def saveFingerprints(dbPath: Option[String],
                       fps: Map[String, String]): Unit =
    dbPath.foreach { db =>
      Files.createDirectories(storeDir(db))
      Files.write(fingerprintFile(db),
        fps.toSeq.sorted.map { case (id, fp) => s"$id\t$fp" }.asJava)
      ()
    }

  /** Ids persisted as TABLE models in the manifest — the Spark-free
    * approximation of `spark.catalog.tableExists` the `viz`
    * `--changed-only` preview uses (the preview must not start a
    * session; the RUN decision still asks the live catalog).
    */
  def manifestTables(dbPath: String): Set[String] =
    entries(dbPath).collect { case f if f(0) == "table" => f(1) }.toSet

  def loadFingerprints(dbPath: String): Map[String, String] = {
    val f = fingerprintFile(dbPath)
    if (!Files.exists(f)) Map.empty
    else Files.readAllLines(f).asScala.flatMap { l =>
      l.split("\t", -1) match {
        case Array(id, fp) => Some(id -> fp)
        case _ => None
      }
    }.toMap
  }

  private def runLedgerFile(dbPath: String): Path =
    storeDir(dbPath).resolve("last_run.tsv")

  /** dbt run_results parity — the minimum `graft retry` needs: one
    * `node\t<status>\t<id>` row per reported node (in report order)
    * plus the invocation flags a retry must re-apply (URL-encoded so
    * tabs/newlines in values cannot corrupt the TSV). Overwritten by
    * every runNodes() against this db_path, retries included — so
    * consecutive retries converge to an empty retry set.
    */
  def saveRunLedger(dbPath: Option[String], rows: Seq[(String, String)],
                    flags: Map[String, String]): Unit =
    dbPath.foreach { db =>
      Files.createDirectories(storeDir(db))
      def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")
      val lines =
        flags.toSeq.sorted.map { case (k, v) =>
          s"flag\t${enc(k)}\t${enc(v)}" } ++
          rows.map { case (status, id) => s"node\t$status\t$id" }
      Files.write(runLedgerFile(db), lines.asJava)
      ()
    }

  /** The last recorded run against this db_path: (status→id rows in
    * report order, re-apply flags). None = no run recorded.
    */
  def loadRunLedger(dbPath: String)
      : Option[(Seq[(String, String)], Map[String, String])] = {
    val f = runLedgerFile(dbPath)
    if (!Files.exists(f)) None
    else {
      def dec(s: String) = java.net.URLDecoder.decode(s, "UTF-8")
      val ls = Files.readAllLines(f).asScala.toSeq.map(_.split("\t", -1))
      val flags = ls.collect {
        case Array("flag", k, v) => dec(k) -> dec(v) }.toMap
      val rows = ls.collect {
        case Array("node", status, id) => status -> id }
      Some((rows, flags))
    }
  }

  /** Replay persisted models into `spark` (typically a fresh session over
    * an existing db_path). Returns the number restored.
    */
  def restore(spark: SparkSession, dbPath: String): Int = {
    var n = 0
    entries(dbPath).foreach {
      case Array("view", id) =>
        try {
          restoreViewEntry(spark, dbPath, id)
          n += 1
        } catch { case e: Exception =>
          println(s"WARNING: could not restore view `$id`: ${e.getMessage}")
        }
      case fields if fields(0) == "table" =>
        val id = fields(1)
        try {
          if (!spark.catalog.tableExists(id)) {
            // managed-table data written by saveAsTable lives at
            // <warehouse>/<id>; re-register it as a parquet table
            restoreTableEntry(spark, fields, warehouseLocation(spark, id))
            n += 1 // count only tables this call actually registered
          }
        } catch { case e: Exception =>
          println(s"WARNING: could not restore table `$id`: ${e.getMessage}")
        }
      case _ => ()
    }
    n
  }

  /** `--defer --state <stateDir>`: register ONLY `ids` from the state
    * dir's manifest, in its (topo-safe) order — views re-registered
    * from their stored SELECTs, tables from their parquet under the
    * STATE dir's warehouse root (a state dir is just another run's
    * db_path, whose warehouse IS that dir). Ids already present in the
    * session are left alone (dbt's dev-favoring default). Returns
    * (restored, needed-but-absent-from-state); restore FAILURES on a
    * needed id also count as missing — a deferred ref that cannot
    * register must fail the run loudly, not at first read.
    */
  def restoreDeferred(spark: SparkSession, stateDir: String,
                      ids: Set[String]): (Seq[String], Set[String]) = {
    val state = entries(stateDir)
    val inState = state.map(_(1)).toSet
    var missing = ids -- inState
    val restored = state.flatMap {
      case fields if ids(fields(1)) =>
        val id = fields(1)
        try {
          if (spark.catalog.tableExists(id)) None
          else fields(0) match {
            case "view" =>
              restoreViewEntry(spark, stateDir, id); Some(id)
            case "table" =>
              restoreTableEntry(spark, fields,
                Paths.get(stateDir).resolve(
                  id.toLowerCase(java.util.Locale.ROOT)))
              Some(id)
            case _ => None
          }
        } catch { case e: Exception =>
          println(s"WARNING: could not defer `$id` from state: " +
            e.getMessage)
          missing += id
          None
        }
      case _ => None
    }
    (restored, missing)
  }

  /** dbt 1.6 `clone`: materialize the state dir's artifacts as LOCAL
    * copies. Unlike [[restoreDeferred]] (which registers state-BACKED
    * relations for one session), a clone copies table parquet under
    * the LOCAL warehouse and persists every relation to the local
    * db_path store — later sessions own independent artifacts, and
    * prod can move on without the dev copies shifting underneath.
    * Views clone as their stored SELECTs (raw text carried along for
    * the re-shim fallback); tables keep their recorded bucket spec.
    * dbt's skip rule applies: an id already registered in this session
    * is left alone unless `fullRefresh` (dbt clone --full-refresh
    * replaces). Returns (cloned, skipped-existing, wanted-but-absent);
    * a clone FAILURE on a wanted id counts as missing — it must fail
    * the command loudly, not at first read.
    */
  def cloneFromState(spark: SparkSession, stateDir: String,
                     localDbPath: Option[String],
                     ids: Option[Set[String]],
                     fullRefresh: Boolean = false)
      : (Seq[String], Seq[String], Set[String]) = {
    val state = entries(stateDir)
    val inState = state.map(_(1)).toSet
    val wanted = ids.getOrElse(inState)
    var missing = wanted -- inState
    val skipped = scala.collection.mutable.ArrayBuffer.empty[String]
    val cloned = state.flatMap {
      case fields if wanted(fields(1)) =>
        val id = fields(1)
        try {
          if (!fullRefresh && spark.catalog.tableExists(id)) {
            skipped += id; None
          } else fields(0) match {
            case "view" =>
              restoreViewEntry(spark, stateDir, id)
              val sel =
                Files.readString(storeDir(stateDir).resolve(s"$id.sql"))
              val rawF = storeDir(stateDir).resolve(s"$id.raw.sql")
              saveView(localDbPath, id, sel,
                if (Files.exists(rawF)) Some(Files.readString(rawF))
                else None)
              Some(id)
            case "table" =>
              // stage the copy BEFORE destroying anything (the swap
              // discipline): a broken state source must not take the
              // existing local copy down with it
              val src = Paths.get(stateDir)
                .resolve(id.toLowerCase(java.util.Locale.ROOT))
              val stage = Files.createTempDirectory("graft-clone-stage")
              copyDir(src, stage)
              // then replace the previous registration AND its data,
              // and register the clone under the LOCAL warehouse
              // (bucket spec preserved via the manifest fields)
              dropTableClearingLocation(spark, id)
              val dst = warehouseLocation(spark, id)
              copyDir(stage, dst)
              deleteTree(stage)
              restoreTableEntry(spark, fields, dst)
              saveTable(spark, localDbPath, id)
              Some(id)
            case _ => None
          }
        } catch { case e: Exception =>
          println(s"WARNING: could not clone `$id` from state: " +
            e.getMessage)
          missing += id
          None
        }
      case _ => None
    }
    (cloned, skipped.toList, missing)
  }

  private def copyDir(src: Path, dst: Path): Unit = {
    val s = Files.walk(src)
    try s.forEach { p =>
      val t = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else { Files.createDirectories(t.getParent); Files.copy(p, t); () }
    } finally s.close()
  }

  private def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder())
      .forEach(f => Files.delete(f))
    finally s.close()
  }

  /** One view manifest entry → temp-view registration (shared by
    * [[restore]] and [[restoreDeferred]]): the stored rewritten SELECT,
    * falling back to re-shimming the raw text when the rewritten form
    * referenced session-scoped state.
    */
  private def restoreViewEntry(spark: SparkSession, dbPath: String,
                               id: String): Unit = {
    def register(sql: String): Unit =
      spark.sql(sql).createOrReplaceTempView(id)
    val stored = Files.readString(storeDir(dbPath).resolve(s"$id.sql"))
    try register(stored)
    catch { case e: Exception =>
      // the rewritten form may reference session-scoped state (a
      // kwarg read_* temp view); re-shim the raw text in THIS
      // session instead
      val rawF = storeDir(dbPath).resolve(s"$id.raw.sql")
      if (Files.exists(rawF))
        register(DialectShim.rewrite(Files.readString(rawF), spark))
      else throw e
    }
  }

  /** Register the parquet directory `loc` as table `id`. A partitioned
    * table's partitions are catalog-tracked (manageFilesourcePartitions)
    * and a path registration starts with none, so they are recovered from
    * the directory layout, or the table reads zero rows. An MSCK failure
    * propagates: a registered table that silently reads zero rows must
    * not pass as restored.
    */
  def registerTable(spark: SparkSession, id: String, loc: Path): Unit = {
    spark.catalog.createTable(id, loc.toString, "parquet")
    if (spark.sessionState.catalog
        .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(id))
        .partitionColumnNames.nonEmpty)
      spark.sql(s"MSCK REPAIR TABLE `$id`")
    ()
  }

  /** One table manifest entry → catalog registration at `loc` (shared
    * by [[restore]] and [[restoreDeferred]]).
    */
  private def restoreTableEntry(spark: SparkSession,
                                fields: Array[String],
                                loc: Path): Unit = {
    val id = fields(1)
    if (fields.length >= 4) {
      // bucketed: re-register with the recorded CLUSTERED BY so the
      // bucketed-scan distribution (zero-exchange joins) survives the
      // session boundary. saveAsTable encodes the bucket id in each file
      // name, which the bucketed scan reads back — the data needs no
      // rewrite.
      val nBuckets = fields(2).toInt
      val bcols = fields(3).split(",").filter(_.nonEmpty)
        .map(c => s"`$c`").mkString(", ")
      val scols = fields.lift(4).getOrElse("")
        .split(",").filter(_.nonEmpty).map(c => s"`$c`").mkString(", ")
      val sorted = if (scols.nonEmpty) s"SORTED BY ($scols) " else ""
      val schemaDDL = spark.read.parquet(loc.toString).schema.toDDL
      spark.sql(s"CREATE TABLE `$id` ($schemaDDL) USING parquet " +
        s"CLUSTERED BY ($bcols) ${sorted}INTO $nBuckets BUCKETS " +
        s"LOCATION '${loc.toString}'")
      ()
    } else registerTable(spark, id, loc)
  }
}
