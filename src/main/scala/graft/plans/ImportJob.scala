package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.StructType
import graft.operators.{Dedup, Drift, Merge}
import org.apache.spark.sql.functions.{coalesce, col, lit, sum}
import scala.collection.mutable

/** Multi-table staged import, executed in dependency order.
  *
  * This is the Spark-native analog of the reference's job runner:
  * `EcomProvider.RunJob` (EcomProvider.cs:934) iterates the job's table
  * mappings — ordered by `OrderTablesInJob` (:819) so referenced tables
  * land before referencing ones — writes each source into a temp table,
  * then merges into the live table (`MoveDataToMainTables`,
  * EcomDestinationWriter.cs:3165) honoring update-only / insert-only
  * switches, optional in-batch dedup (:1042), and full-sync
  * delete/deactivate of rows missing from the import (:3067).
  *
  * Here "temp table → merge" becomes a declarative dataframe merge per
  * table; the caller persists results wherever they live (parquet/
  * iceberg/delta writers all consume the returned frames).
  *
  * Several mappings may stage into the SAME destination table (the
  * reference's multi-language feeds all targeting EcomProducts —
  * `job.Mappings` keyed by destination table, EcomProvider.cs:1095):
  * give each [[TableSpec]] its own `sourceName` and they merge into the
  * table in the given spec order.
  *
  * Missing-row removal has the reference's two modes:
  *  - inline (default): each table's delete-excess anti-join applies as
  *    the table merges (`DeleteExcessFromMainTable` per mapping,
  *    EcomDestinationWriter.cs:3067);
  *  - deferred (`removeMissing = true`): NO per-mapping delete; after
  *    every table of the job has staged and merged, each table with
  *    `deleteExcess` anti-joins against the UNION of all its mappings'
  *    batches (`RemoveMissingRowsAcrossAllTables`, EcomProvider.cs:1090,
  *    which passes ALL same-destination temp tables to one
  *    `DeleteExcessFromMainTable(mappings)` call, :3056). The difference
  *    is observable whenever two mappings feed one table: inline, the
  *    second mapping's delete would drop rows only the first mapping
  *    carried; deferred, a row survives if ANY mapping of the job
  *    carried it. Deletes run children-before-parents (reverse
  *    dependency order) so a parent row is never removed while a
  *    just-merged child still referenced it mid-pass.
  */
object ImportJob {

  sealed trait MergeMode
  case object Upsert extends MergeMode
  case object UpdateOnly extends MergeMode
  case object InsertOnly extends MergeMode
  /** The DeleteIncomingItems job mode: incoming keys are REMOVED from the
    * destination (EcomProvider.cs:1022 -> DeleteExistingFromMainTable,
    * EcomDestinationWriter.cs:3116).
    */
  case object DeleteIncoming extends MergeMode

  /** Post-merge distribution validation for one numeric column: PSI
    * between the destination BEFORE the merge and the final table, over
    * fixed `boundaries` buckets ([[graft.operators.Drift]]). The
    * reference validates every sync structurally (row counts after
    * MoveDataToMainTables, EcomDestinationWriter.cs:3165); this adds the
    * signal counts miss — a sync that is row-complete but value-shifted
    * (currency re-scale, unit bug). Results surface per table as
    * `<table>__drift` (column, bucket, n_old, n_new, psi_ppm).
    * `failOnAlarm = true` turns the check into a gate: the job fails
    * when total PSI reaches `alarmPpm` (one eager aggregate over the
    * unioned bucket summaries covers every gated check; the merged
    * table is checkpointed once so the merge never re-executes per
    * check). A FIRST import into an empty destination skips the checks
    * entirely — there is no distribution to drift from, and smoothed
    * PSI against emptiness would alarm on any non-uniform column.
    */
  case class DriftCheck(column: String, boundaries: Seq[Double],
                        alarmPpm: Long = 250000L, failOnAlarm: Boolean = false)

  /** What to do with rows whose FK lookup came back empty. */
  sealed trait FkPolicy
  /** Abort the whole job with [[FkViolationException]] — the reference's
    * `FailOnMissingGroups` (EcomDestinationWriter.cs:4566, invoked from
    * RunJob when CreateMissingGroups is off, EcomProvider.cs:1004).
    */
  case object FkFail extends FkPolicy
  /** Divert the rows to `<table>__quarantined` with reason
    * `unresolved:<col>` and merge the rest — the SkipFailingRows
    * treatment applied to dangling references.
    */
  case object FkQuarantine extends FkPolicy

  /** Strict-FK gate, checked AFTER `pre`/`preResolve` have run their
    * lookup ladders and BEFORE in-batch dedup: any staged row still
    * carrying a NULL in one of `columns` is a dangling reference
    * (every resolver in this library leaves NULL where the ladder
    * exhausts — Merge/FkResolve/coalesce rungs). The reference's third
    * option — CREATE the missing parent — is not a policy here because
    * it IS the preResolve hook (q_create_missing_refs): a spec that
    * wants create-missing resolves-and-creates in preResolve and the
    * gate then has nothing to catch.
    *
    * Scale shape of the fail arm: the batch is localCheckpoint'ed ONCE
    * (the materialization serves both the gate scan and the merge — the
    * resolve joins never run twice) and the violation probe is a
    * `limit(maxLogRows+1).collect()` — bounded driver pull, never the
    * full violating set. The full violating FRAME (lazy, distributed)
    * rides on the exception for callers that want to persist it, like
    * LogFailedRows dumps the reference's `_rowsWithMissingGroups`
    * (EcomDestinationWriter.cs:4574).
    */
  case class FkGate(columns: Seq[String], policy: FkPolicy = FkFail,
                    maxLogRows: Int = 20) {
    require(columns.nonEmpty, "FkGate needs at least one column")
    require(maxLogRows >= 1, "maxLogRows must be >= 1")
  }

  /** Declarative lookup ladder against another table of the job — the
    * reference's existing-row resolution for business-key feeds
    * (GetExistingProduct, EcomDestinationWriter.cs:3985: primary key
    * first, then ProductNumber, then ProductName when
    * `UseStrictPrimaryKeyMatching` is off). Each rung is
    * (incomingCol -> dimCol); the first rung is the PRIMARY-KEY rung.
    * The dim is read through the job's `lookup`, so it sees the state
    * merged BY THIS JOB for tables already processed (the same
    * visibility preResolve gets). Runs after `pre`, before
    * `preResolve`; lowers to [[graft.operators.Denormalize
    * .resolveWithFallback]]. Under [[TableSpec.strictKeyMatching]]
    * (the default, like the reference's) the ladder is PRUNED to the
    * primary-key rung — declaring the full ladder once and flipping
    * the job flag reproduces both reference modes from one spec.
    *
    * @param dim   table name resolved through the job lookup
    * @param rungs (incomingCol -> dimCol) pairs, primary key first
    * @param take  (dimCol to carry over, output column name)
    */
  case class FkLadder(dim: String, rungs: Seq[(String, String)],
                      take: (String, String)) {
    require(rungs.nonEmpty, "FkLadder needs at least one rung")
  }

  /** The reference's `PartialUpdate` switch (EcomProvider.cs:264) as a
    * named per-table option: restrict this table's delete-excess to
    * rows whose `childCols` reference a parent row present in THIS
    * import's `parentTable` batch. A full sync deletes every
    * destination row missing from the batch; under partial update a
    * row additionally SURVIVES when its parent was not part of the
    * import (DeleteExcessFromGroupProductRelation,
    * EcomDestinationWriter.cs:4285: the partial arm joins the staged
    * products temp table so only imported products' relations are
    * cleaned; :3214 arms the clean whenever PartialUpdate is on). If
    * the parent staged nothing in this job, nothing is deleted — the
    * reference's HasRowsToImport guard (:3215).
    *
    * @param parentTable job table whose staged batch scopes the delete
    * @param childCols   FK columns in THIS table referencing the parent
    * @param parentKeys  matching key columns in the parent batch (same
    *                    order as childCols)
    */
  case class ParentScope(parentTable: String, childCols: Seq[String],
                         parentKeys: Seq[String]) {
    require(childCols.nonEmpty && childCols.length == parentKeys.length,
      "ParentScope needs matching childCols/parentKeys")
  }

  /** Thrown by a [[FkFail]] gate. `rows` is the full violating frame
    * (distributed, lazy); the message embeds a LogFailedRows-style
    * rendering of the first `maxLogRows` rows.
    */
  final class FkViolationException(
      val table: String, val columns: Seq[String], val rows: DataFrame,
      sample: Seq[String], atLeast: Int)
    extends RuntimeException(
      s"Failed at importing $table rows with missing ${columns.mkString(", ")}" +
        s" ($atLeast+ rows):\n" + sample.mkString("\n"))

  /** One mapping's import spec (one staged temp table in the reference).
    *
    * @param table         destination table name; several specs may share
    *                      it (multi-mapping feeds) — they merge in spec
    *                      order and delete-excess unions their batches in
    *                      deferred mode
    * @param sourceName    name passed to the job's `incoming` lookup;
    *                      defaults to `table`. Lets two mappings of one
    *                      destination read different sources
    * @param dedupKeys     discard in-batch duplicates on these keys
    *                      (keep-first under `dedupOrder`), like
    *                      discardDuplicates
    * @param deleteExcess  full-sync: drop destination rows missing from
    *                      the incoming batch (all batches of the table in
    *                      deferred mode)
    * @param deleteExcessScope scope columns for deleteExcess: only rows
    *                      whose scope value appears in the batch are
    *                      dropped, so a partial (one-language/one-shop)
    *                      import can't wipe other scopes
    *                      (EcomDestinationWriter.cs:3067-3091)
    * @param flagMissing   soft-sync: keep missing rows but set this
    *                      boolean column false (hideDeactivatedProducts)
    * @param expectSchema  validate the incoming frame up front
    *                      (ValidateDestinationSettings analog) — fails the
    *                      job with the full problem list before any work
    * @param constants     inject fixed-value columns missing from the
    *                      incoming frame (ScriptType.Constant shop-id
    *                      injection, EcomProvider.cs:980)
    * @param rowRules      permissive row validation (SkipFailingRows,
    *                      EcomProvider.cs:247): rows failing any
    *                      (reason, predicate) rule are diverted to a
    *                      quarantine frame — returned by [[run]] under
    *                      `<table>__quarantined` with a reason column —
    *                      instead of failing the job; passing rows
    *                      continue into the merge
    * @param pre           incoming-side transform applied after
    *                      quarantine and before dedup/merge — the
    *                      reference's source-row processing slot
    *                      (FK-by-name resolution, surrogate ids, value
    *                      rules run on the staged rows BEFORE the move
    *                      to main tables; incoming-only columns like a
    *                      business-key name exist only here, the merge
    *                      keeps destination columns)
    * @param preResolve    like `pre` but ALSO receives a lookup of the
    *                      job's current table states — the merged (but
    *                      not yet excess-deleted, not yet post-hooked)
    *                      frame for tables already processed, the
    *                      original destination otherwise. This is WHY
    *                      the reference orders tables (OrderTablesInJob,
    *                      EcomProvider.cs:819): a product feed resolves
    *                      its group NAME against the groups table as
    *                      updated BY THIS JOB, not last night's state.
    *                      Runs after `pre`
    * @param fkGate        strict-FK gate ([[FkGate]]) applied after
    *                      pre/preResolve and before dedup: rows with a
    *                      NULL in a gated column either abort the job
    *                      ([[FkFail]], FailOnMissingGroups) or divert to
    *                      `<table>__quarantined` ([[FkQuarantine]])
    * @param resolve       declarative [[FkLadder]]s run between `pre`
    *                      and `preResolve`, each against the job's
    *                      current state of its dim table
    * @param strictKeyMatching the reference's
    *                      `UseStrictPrimaryKeyMatching`
    *                      (EcomProvider.cs:180, default True): when
    *                      true each [[FkLadder]] in `resolve` is pruned
    *                      to its primary-key rung; when false the full
    *                      ID → number → name fallthrough runs
    *                      (EcomDestinationWriter.cs:3934/:3988)
    * @param partialUpdate the reference's `PartialUpdate`
    *                      (EcomProvider.cs:264) — [[ParentScope]]
    *                      restricting delete-excess to rows whose
    *                      parent is part of this import. Setting it
    *                      ARMS the scoped delete on its own, with or
    *                      without `deleteExcess` (the reference fires
    *                      the relation cleanup whenever PartialUpdate
    *                      is set, EcomDestinationWriter.cs:3214)
    * @param ignoreEmptyIn the reference's
    *                      `IgnoreEmptyCategoryFieldValues`
    *                      (EcomProvider.cs:257): batch rows whose value
    *                      in ANY listed column is NULL or the empty
    *                      string are not written at all
    *                      (EcomDestinationWriter.cs:1494) — the
    *                      destination's existing value survives
    * @param driftChecks   post-merge [[DriftCheck]]s comparing the
    *                      pre-merge destination against the final table
    *                      (after `post`); emitted as `<table>__drift`
    * @param post          post-merge transform hook (the reference's
    *                      UpdateProductRelatedProducts /
    *                      UpdateVariantFieldsInProducts pass,
    *                      EcomProvider.cs:1013-1016 — compose
    *                      graft.operators.Propagate here). With several
    *                      mappings per table, hooks apply in spec order
    *                      after the LAST mapping merges
    */
  case class TableSpec(
      table: String,
      keys: Seq[String],
      mode: MergeMode = Upsert,
      dedupKeys: Seq[String] = Nil,
      dedupOrder: Seq[String] = Nil,
      deleteExcess: Boolean = false,
      deleteExcessScope: Seq[String] = Nil,
      flagMissing: Option[String] = None,
      expectSchema: Option[StructType] = None,
      constants: Map[String, String] = Map.empty,
      rowRules: Seq[(String, org.apache.spark.sql.Column)] = Nil,
      pre: DataFrame => DataFrame = identity,
      post: DataFrame => DataFrame = identity,
      driftChecks: Seq[DriftCheck] = Nil,
      sourceName: Option[String] = None,
      preResolve: (DataFrame, String => DataFrame) => DataFrame = (df, _) => df,
      fkGate: Option[FkGate] = None,
      resolve: Seq[FkLadder] = Nil,
      strictKeyMatching: Boolean = true,
      partialUpdate: Option[ParentScope] = None,
      ignoreEmptyIn: Seq[String] = Nil)

  /** Run the job: for each spec (tables in dependency order, same-table
    * mappings in spec order), merge `incoming` into `dest` and return
    * the resulting frames keyed by table name.
    *
    * Tables run in dependency order on the caller's thread, so a
    * lookup sees an earlier table's merged state, its own table's
    * mid-table state and a later table's untouched destination.
    *
    * @param removeMissing deferred cross-mapping delete-excess
    *                      (RemoveMissingRowsAcrossAllTables,
    *                      EcomProvider.cs:1090) — see the object doc
    */
  def run(specs: Seq[TableSpec],
          dest: String => DataFrame,
          incoming: String => DataFrame,
          deps: Map[String, Set[String]] = TableOrder.StarSchemaDeps,
          removeMissing: Boolean = false): Map[String, DataFrame] = {
    val tables = specs.map(_.table).distinct
    val ordered = TableOrder.order(tables, deps)
    val byTable = specs.groupBy(_.table)

    // ── stage + merge every mapping, tables in dependency order ──────
    // merged-but-not-deleted states, visible to later specs' preResolve
    val state = mutable.Map[String, DataFrame]()
    // per table: the staged batches (post-quarantine/pre/dedup) — the
    // deferred delete and flagMissing compare against their union
    val staged = mutable.Map[String, Seq[DataFrame]]()
    val quarantines = mutable.Map[String, Seq[DataFrame]]()
    val preMergeDest = mutable.Map[String, DataFrame]()
    val lookup: String => DataFrame = name => state.getOrElse(name, dest(name))
    val stagedOf: String => Seq[DataFrame] = name => staged.getOrElse(name, Nil)

    def stageTable(table: String): Unit = {
      preMergeDest(table) = dest(table)
      byTable(table).foreach { spec =>
        val raw0 = incoming(spec.sourceName.getOrElse(table))
        // IgnoreEmptyCategoryFieldValues (EcomProvider.cs:257, acting at
        // EcomDestinationWriter.cs:1494): a row whose listed value
        // column is NULL or the empty string is never written — it
        // leaves the batch before staging, so the existing destination
        // value survives instead of being overwritten with ""
        val raw = if (spec.ignoreEmptyIn.nonEmpty)
          raw0.filter(spec.ignoreEmptyIn.map(c =>
            col(c).isNotNull &&
              col(c).cast("string") =!= org.apache.spark.sql.functions.lit(""))
            .reduce(_ && _))
        else raw0
        val withConsts = spec.constants.foldLeft(raw) { case (df, (c, v)) =>
          if (df.columns.map(_.toLowerCase).contains(c.toLowerCase)) df
          else df.withColumn(c, org.apache.spark.sql.functions.lit(v))
        }
        val checked = spec.expectSchema
          .map(SchemaCheck.validate(withConsts, _))
          .getOrElse(withConsts)
        val in0 =
          if (spec.rowRules.nonEmpty) {
            val (v, q) = Quarantine.split(checked, spec.rowRules)
            quarantines(table) = quarantines.getOrElse(table, Nil) :+ q
            v
          } else checked
        // declarative ladders between pre and preResolve; strict mode
        // prunes each to its primary-key rung (the reference's
        // UseStrictPrimaryKeyMatching fallthrough switch)
        def laddered(df: DataFrame): DataFrame =
          spec.resolve.foldLeft(spec.pre(df)) { (acc, l) =>
            val rungs = if (spec.strictKeyMatching) l.rungs.take(1) else l.rungs
            graft.operators.Denormalize.resolveWithFallback(
              acc, lookup(l.dim), rungs, l.take)
          }
        val in1 = spec.fkGate match {
          case None => spec.preResolve(laddered(in0), lookup)
          case Some(g) =>
            val resolved = spec.preResolve(laddered(in0), lookup)
            g.policy match {
              case FkQuarantine =>
                // same split machinery as rowRules, reasons
                // "unresolved:<col>" — diverted rows join the table's
                // quarantine union
                val (ok, bad) = Quarantine.split(resolved,
                  g.columns.map(c => s"unresolved:$c" -> col(c).isNotNull))
                quarantines(table) = quarantines.getOrElse(table, Nil) :+ bad
                ok
              case FkFail =>
                // the merged output reads the pin; a failing gate frees it
                graft.Pins.scope(enforceFkFail(_, table, g, resolved))
            }
        }
        val in2 = if (spec.dedupKeys.nonEmpty)
          Dedup.keepFirst(in1, spec.dedupKeys,
            (if (spec.dedupOrder.nonEmpty) spec.dedupOrder else spec.dedupKeys).map(col))
        else in1
        // a batch that also feeds delete-excess / flagMissing is read
        // twice (merge + key union) — pin it LAZILY so the staging
        // ladder (quarantine/resolve/dedup) executes once, inside the
        // first consumer's job, with no extra scheduled action. A
        // merge-only batch stays pipelined; a batch an FkFail gate
        // already materialized is NOT pinned again (the dedup window on
        // top of pinned blocks is cheaper than a second materialization
        // — measured on q_ecom_job_strict).
        val in = if ((spec.deleteExcess || spec.partialUpdate.isDefined ||
            spec.flagMissing.isDefined) && !spec.fkGate.exists(_.policy == FkFail))
          in2.localCheckpoint(false)
        else in2
        staged(table) = staged.getOrElse(table, Nil) :+ in
        val d = lookup(table)
        var out = spec.mode match {
          case Upsert => Merge.upsert(d, in, spec.keys)
          case UpdateOnly => Merge.updateExisting(d, in, spec.keys)
          case InsertOnly => d.unionByName(Merge.insertMissing(d, in, spec.keys), allowMissingColumns = true)
          case DeleteIncoming => Merge.deleteExcess(d, in, spec.keys)
        }
        // PartialUpdate ALONE arms the scoped cleanup — the reference
        // fires DeleteExcessFromGroupProductRelation whenever
        // partialUpdate is set (EcomDestinationWriter.cs:3214),
        // independent of RemoveMissingAfterImport/deleteExcess
        if ((spec.deleteExcess || spec.partialUpdate.isDefined) && !removeMissing)
          out = applyDeleteExcess(out, Seq(in), spec, stagedOf)
        state(table) = out
      }
      // pin tables the job's OTHER tables depend on: every dependent
      // spec's preResolve re-reads this merged state through `lookup`,
      // and the caller reads it again in the returned map — unpinned,
      // each reader re-executes the whole merge chain (and transitively
      // its parents': the products checksum re-ran the groups merge,
      // the relations checksum re-ran both). Lazy localCheckpoint
      // materializes inside the first consumer's job — lineage is cut
      // without scheduling a per-table action, which is what kept the
      // reference-job replay at a per-table fixed floor.
      if (deps.exists { case (t2, ds) =>
            ds.contains(table) && t2 != table && byTable.contains(t2) })
        state(table) = state(table).localCheckpoint(false)
    }

    // ── flagMissing / post hooks / drift checks on the final states ──
    def finishTable(table: String): Seq[(String, DataFrame)] = {
      var out = state(table)
      val batches = staged(table)
      byTable(table).foreach { spec =>
        spec.flagMissing.foreach { flag =>
          // soft-sync parity with deferred deletes: present in ANY batch
          val union = batches.map(_.select(spec.keys.map(col): _*))
            .reduce(_ unionByName _)
          out = Merge.flagMissing(out, union, spec.keys, flag)
        }
        out = spec.post(out)
      }
      val d = preMergeDest(table)
      val driftChecks = byTable(table).flatMap(_.driftChecks)
      // a first import has no distribution to drift FROM: smoothed PSI
      // against an empty destination compares the incoming data to a
      // uniform prior and alarms on any real-world (non-uniform) column,
      // so drift checks only apply once the destination has rows
      val doDrift = driftChecks.nonEmpty && !d.isEmpty
      // gating forces materialization anyway — checkpoint ONCE so the
      // merge pipeline doesn't re-execute per check (and again when the
      // caller reads the returned frames)
      val finalOut = if (doDrift) out.localCheckpoint(true) else out
      val driftFrame = if (!doDrift) None else {
        val all = driftChecks.map { c =>
          Drift.psi(d, finalOut, col(c.column), c.boundaries)
            .select(lit(c.column).as("column"), col("bucket"),
              col("n_old"), col("n_new"), col("psi_ppm"))
        }.reduce(_ unionByName _)
        val gated = driftChecks.filter(_.failOnAlarm)
        if (gated.nonEmpty) {
          // ONE action computes every gate total from the unioned frame
          val totals = all.groupBy(col("column"))
            .agg(coalesce(sum(col("psi_ppm")), lit(0L)).as("t"))
            .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
          gated.foreach { c =>
            val total = totals.getOrElse(c.column, 0L)
            if (total >= c.alarmPpm) throw new IllegalStateException(
              s"ImportJob drift alarm: $table.${c.column} total PSI $total ppm" +
                s" >= ${c.alarmPpm} ppm — the sync moved the distribution")
          }
        }
        Some(s"${table}__drift" -> all)
      }
      // rowRules quarantine pre-transform rows; an FkQuarantine gate
      // diverts POST-resolve rows (extra resolver columns) — align by
      // name, missing columns null
      val quarantined = quarantines.get(table)
        .map(qs => s"${table}__quarantined" ->
          qs.reduce(_.unionByName(_, allowMissingColumns = true)))
      Seq(table -> finalOut) ++ quarantined ++ driftFrame
    }

    if (!removeMissing)
      // inline: a table's finish hooks run before the next table stages
      ordered.flatMap { table => stageTable(table); finishTable(table) }.toMap
    else {
      ordered.foreach(stageTable)
      // deferred delete-excess: after EVERY table of the job staged,
      // against the union of each table's batches, children first
      ordered.reverse.foreach { table =>
        byTable(table).find(s => s.deleteExcess || s.partialUpdate.isDefined)
          .foreach { spec =>
            state(table) = applyDeleteExcess(state(table), staged(table), spec, stagedOf)
          }
      }
      ordered.flatMap(finishTable).toMap
    }
  }

  /** The FkFail arm, shared with the streaming twin
    * ([[graft.streaming.StreamingImport.startWithFkGate]]): pin the
    * resolved batch ONCE through `p` (the materialization serves both
    * the gate scan and the downstream merge — the resolve ladder never
    * executes twice), probe violations with a bounded limit-collect, and
    * either throw [[FkViolationException]] with the LogFailedRows-style
    * sample or return the pinned frame for the merge. The exception's
    * `rows` frame reads the unpinned `resolved`, so the scope can free
    * the pin on the throw and `rows` stays readable.
    */
  private[graft] def enforceFkFail(p: graft.Pins, table: String, g: FkGate,
                                   resolved: DataFrame): DataFrame = {
    val pinned = p.pin(resolved, true)
    val isViolation = g.columns.map(c => col(c).isNull).reduce(_ || _)
    val sample = pinned.filter(isViolation).limit(g.maxLogRows + 1).collect()
    if (sample.nonEmpty) {
      val cols = pinned.columns
      val rendered = sample.take(g.maxLogRows).map { r =>
        "Failed row: " + cols.zipWithIndex.map { case (c, i) =>
          s"""[$c: "${r.get(i)}"]"""
        }.mkString(", ")
      }.toSeq
      throw new FkViolationException(
        table, g.columns, resolved.filter(isViolation), rendered, sample.length)
    }
    pinned
  }

  /** Excess-row removal against one or several staged batches: rows
    * survive when their key appears in ANY batch — scoped so rows
    * outside the batches' scopes survive untouched. The anti-join must
    * carry key AND scope columns: a key that exists in several scopes
    * (one product row per language) may be deletable in the imported
    * scope while its siblings in untouched scopes must survive.
    */
  private def applyDeleteExcess(out: DataFrame, batches: Seq[DataFrame],
                                spec: TableSpec,
                                stagedOf: String => Seq[DataFrame]): DataFrame = {
    // PartialUpdate: the deletable set is first restricted to rows whose
    // parent row is part of this import — distinct parent keys from the
    // parent table's staged batches, renamed to this table's FK columns.
    // Parent staged nothing => reference's HasRowsToImport guard: delete
    // nothing at all.
    val parentStaged = spec.partialUpdate.map(ps => stagedOf(ps.parentTable))
    if (spec.partialUpdate.isDefined && parentStaged.exists(_.isEmpty)) out
    else {
    val parentKeys: Option[DataFrame] = spec.partialUpdate.map { ps =>
      parentStaged.get.map(_.select(ps.parentKeys.map(col): _*))
        .reduce(_ unionByName _).distinct().toDF(ps.childCols: _*)
    }
    if (spec.deleteExcessScope.nonEmpty) {
      val delCols = (spec.keys ++ spec.deleteExcessScope).distinct
      val union = batches.map(_.select(delCols.map(col): _*)).reduce(_ unionByName _)
      val deleteSet0 = Merge.deleteExcessScoped(out, union, spec.keys, spec.deleteExcessScope)
      val deleteSet = parentKeys.map(p =>
        deleteSet0.join(p, spec.partialUpdate.get.childCols, "left_semi"))
        .getOrElse(deleteSet0)
      out.join(deleteSet.select(delCols.map(col): _*).distinct(), delCols, "left_anti")
    } else {
      val union = batches.map(_.select(spec.keys.map(col): _*)).reduce(_ unionByName _)
      parentKeys match {
        case None => out.join(union.distinct(), spec.keys, "left_semi")
        case Some(p) =>
          // doomed = missing from the batch AND referencing an imported
          // parent; everything else survives (one bounded-key anti-join
          // frame, never a full-table except)
          val ps = spec.partialUpdate.get
          val doomed = out
            .select((spec.keys ++ ps.childCols).distinct.map(col): _*)
            .join(union.distinct(), spec.keys, "left_anti")
            .join(p, ps.childCols, "left_semi")
            .select(spec.keys.map(col): _*).distinct()
          out.join(doomed, spec.keys, "left_anti")
      }
    }
    }
  }
}
