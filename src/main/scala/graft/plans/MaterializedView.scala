package graft.plans

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, And, Attribute, AttributeReference, Expression, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete, Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.graft.PlanDataset

/** Materialized-view AUTOMATIC QUERY REWRITE — the classic warehouse
  * accelerator (Calcite/Oracle/BigQuery MV rewrite): a registered MV
  * pre-computes `GROUP BY g1..gn` sums/counts/mins/maxes over a base
  * table; any later aggregate query over the BASE table whose group
  * columns are a SUBSET of the MV's and whose aggregates are derivable
  * re-plans against the MV — a billion-row scan becomes a
  * groups-cardinality scan, transparently.
  *
  * Soundness rules (each checked structurally, no rewrite otherwise):
  *   - roll-up: `sum` re-aggregates as SUM(sum), `count(*)` as
  *     SUM(cnt), `min`/`max` as MIN(min)/MAX(max) — the decomposable
  *     aggregate algebra; non-decomposable aggregates (avg, distinct,
  *     UDAFs) block the rewrite;
  *   - a filter between the aggregate and the scan must reference MV
  *     GROUP columns only (σ over group columns commutes with γ: it
  *     drops whole groups, never rows within a group), and is remapped
  *     onto the MV;
  *   - STALENESS: at registration the MV records the source's file
  *     listing (name → size); the rule re-lists before rewriting and a
  *     mismatch disables the MV — a stale view is never served. On a
  *     txn-log table the version number would be the freshness token;
  *     for plain parquet the listing is the metadata-cheap equivalent.
  *
  * Output attributes keep the ORIGINAL aggregate's ExprIds (aliases are
  * re-issued under the old ids), so parent operators are untouched —
  * the rewrite is invisible above the aggregate.
  *
  * Registered via GraftExtensions (`injectOptimizerRule`; every
  * `GraftSession` carries it). Gated by `spark.graft.mv.rewrite` (default
  * ON — registering an MV is already the opt-in). */
object MaterializedView {

  /** A registered view: where the materialization lives, what it
    * pre-computes, and the source snapshot it was built from. MV column
    * naming is positional-free: group columns keep their names; sums are
    * `sum_<col>`, mins `min_<col>`, maxes `max_<col>`, count(*) is
    * `cnt`. */
  case class MvDef(
      mvPath: String,
      groupCols: Seq[String],
      sums: Set[String],
      hasCount: Boolean,
      mins: Set[String],
      maxs: Set[String],
      snapshot: Map[String, Long])

  private[graft] val registry = TrieMap.empty[String, MvDef]

  private def canon(p: String): String =
    new java.io.File(p).getAbsolutePath

  /** name → size listing of a parquet file or directory (metadata-only,
    * one driver-side listing). */
  private def snapshotOf(path: String): Map[String, Long] = {
    val f = new java.io.File(path)
    if (f.isFile) Map(f.getName -> f.length())
    else Option(f.listFiles()).getOrElse(Array.empty)
      .filter(x => x.isFile && !x.getName.startsWith("_") && !x.getName.startsWith("."))
      .map(x => x.getName -> x.length()).toMap
  }

  /** Register an EXISTING materialization for `sourcePath`. */
  def register(
      sourcePath: String,
      mvPath: String,
      groupCols: Seq[String],
      sums: Seq[String],
      count: Boolean,
      mins: Seq[String] = Nil,
      maxs: Seq[String] = Nil): Unit = {
    registry.put(canon(sourcePath),
      MvDef(mvPath, groupCols, sums.toSet, count, mins.toSet, maxs.toSet,
        snapshotOf(sourcePath)))
  }

  /** Compute, write and register the MV in one step. The build is one
    * distributed partial-aggregate pass over the source — the same job
    * the first accelerated query would have run. */
  def create(
      spark: SparkSession,
      sourcePath: String,
      mvPath: String,
      groupCols: Seq[String],
      sums: Seq[String],
      count: Boolean,
      mins: Seq[String] = Nil,
      maxs: Seq[String] = Nil): Unit = {
    import org.apache.spark.sql.functions.{col, count => fcount, lit, max => fmax, min => fmin, sum => fsum}
    require(groupCols.nonEmpty, "mv: need at least one group column")
    val aggs =
      sums.map(c => fsum(col(c)).as(s"sum_$c")) ++
        (if (count) Seq(fcount(lit(1)).as("cnt")) else Nil) ++
        mins.map(c => fmin(col(c)).as(s"min_$c")) ++
        maxs.map(c => fmax(col(c)).as(s"max_$c"))
    require(aggs.nonEmpty, "mv: need at least one aggregate")
    spark.read.parquet(sourcePath)
      .groupBy(groupCols.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
      .write.mode("overwrite").parquet(mvPath)
    register(sourcePath, mvPath, groupCols, sums, count, mins, maxs)
  }

  def unregister(sourcePath: String): Unit = registry.remove(canon(sourcePath))

  def clear(): Unit = { registry.clear(); snapshotRegistry.clear(); txnMvs.clear() }

  // ------------------------------------------------------------------
  // Snapshot-keyed MVs: the transaction-log-table integration
  // ------------------------------------------------------------------

  /** MVs over a VERSIONED table, keyed by the exact file SET the snapshot
    * resolves to. The file set IS the freshness token: txn-log data files
    * are immutable, so a query whose scan reads exactly the registered
    * files is served correctly REGARDLESS of later commits — which is
    * also why a RESTORE automatically re-enables the restored version's
    * MV (the head resolves to the old file set again), and why a
    * time-travel read of any version with a registered MV accelerates. */
  private[graft] val snapshotRegistry = TrieMap.empty[Set[String], MvDef]

  /** Per-txn-table bookkeeping for incremental refresh: canonical logDir
    * → (version the current MV covers, its definition). */
  private[graft] val txnMvs = TrieMap.empty[String, (Long, MvDef)]

  def registerSnapshot(
      snapshotFiles: Seq[String],
      mvPath: String,
      groupCols: Seq[String],
      sums: Seq[String],
      count: Boolean,
      mins: Seq[String] = Nil,
      maxs: Seq[String] = Nil): MvDef = {
    val mv = MvDef(mvPath, groupCols, sums.toSet, count, mins.toSet, maxs.toSet, Map.empty)
    snapshotRegistry.put(snapshotFiles.map(canon).toSet, mv)
    mv
  }

  /** Build + register an MV for the CURRENT version of a txn-log table
    * (one distributed aggregate pass over the snapshot). Count must be
    * materialized: the incremental-refresh algebra needs per-group counts
    * to retire groups whose rows all deleted. Returns the covered
    * version. */
  def createForTxn(
      spark: SparkSession,
      logDir: String,
      mvPath: String,
      groupCols: Seq[String],
      sums: Seq[String],
      mins: Seq[String] = Nil,
      maxs: Seq[String] = Nil): Long = {
    import org.apache.spark.sql.functions.{col, count => fcount, lit, max => fmax, min => fmin, sum => fsum}
    val head = graft.sources.TxnLog.latestVersion(logDir).getOrElse(
      throw new IllegalArgumentException(s"mv: no commits in $logDir"))
    val files = graft.sources.TxnLog.liveFiles(logDir, head).toSeq.sorted
    val aggs =
      sums.map(c => fsum(col(c)).as(s"sum_$c")) ++ Seq(fcount(lit(1)).as("cnt")) ++
        mins.map(c => fmin(col(c)).as(s"min_$c")) ++
        maxs.map(c => fmax(col(c)).as(s"max_$c"))
    spark.read.option("mergeSchema", "true").parquet(files: _*)
      .groupBy(groupCols.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
      .write.mode("overwrite").parquet(mvPath)
    val mv = registerSnapshot(files, mvPath, groupCols, sums, count = true, mins, maxs)
    txnMvs.put(canon(logDir), (head, mv))
    head
  }

  /** INCREMENTAL refresh to the table's current head — cost proportional
    * to the CHANGE, not the table: the delta comes from the txn log's
    * change feed (`changesBetween` reads only files that changed hands),
    * folds to per-group signed partials, and applies to the old MV with
    * one outer join. Groups whose count reaches zero retire. Min/max are
    * NOT incrementally maintainable under deletes (a deleted extremum
    * needs a re-scan of its group) — a delta containing deletes refuses
    * when the MV carries min/max columns, the classic view-maintenance
    * restriction. The new MV registers under the head's file set; the old
    * version's MV stays registered, still serving time-travel reads of
    * that version. Returns (newVersion, deltaRows). */
  def refreshIncremental(spark: SparkSession, logDir: String, newMvPath: String): (Long, Long) = {
    import org.apache.spark.sql.functions.{coalesce, col, least, greatest, lit, sum => fsum, when}
    val (fromV, mv) = txnMvs.getOrElse(canon(logDir),
      throw new IllegalArgumentException(s"mv: no txn MV registered for $logDir — createForTxn first"))
    val head = graft.sources.TxnLog.latestVersion(logDir).getOrElse(
      throw new IllegalArgumentException(s"mv: no commits in $logDir"))
    require(head > fromV, s"mv: already fresh at version $fromV")
    val delta = graft.sources.TxnLog.changesBetween(spark, logDir, fromV, head)
      .withColumn("__sgn", when(col("change_type") === "insert", 1L).otherwise(-1L))
      .localCheckpoint(eager = true)
    val deltaRows = delta.count()
    val hasDeletes = delta.filter(col("__sgn") === -1L).limit(1).count() > 0
    require(!hasDeletes || (mv.mins.isEmpty && mv.maxs.isEmpty),
      "mv: delta contains deletes — min/max columns cannot refresh incrementally; rebuild with createForTxn")
    val sumCols = mv.sums.toSeq.sorted
    val minCols = mv.mins.toSeq.sorted
    val maxCols = mv.maxs.toSeq.sorted
    val deltaAgg = delta.groupBy(mv.groupCols.map(col): _*).agg(
      fsum(col("__sgn")).as("__d_cnt"),
      (sumCols.map(c => fsum(col("__sgn") * col(c)).as(s"__d_sum_$c")) ++
        minCols.map(c => org.apache.spark.sql.functions.min(col(c)).as(s"__d_min_$c")) ++
        maxCols.map(c => org.apache.spark.sql.functions.max(col(c)).as(s"__d_max_$c"))): _*)
    val old = spark.read.parquet(mv.mvPath)
    // null-SAFE key equality (<=>, as Privacy.kAnonymitySuppress joins):
    // a usingColumns full_outer matches null-unsafely, so a NULL-valued
    // group key would split into two rows — old side and delta side never
    // meeting — and the refreshed MV would carry duplicates for that group
    val joinCond = mv.groupCols.map(c => old(c) <=> deltaAgg(c)).reduce(_ && _)
    val merged = old.join(deltaAgg, joinCond, "full_outer")
      .select(
        mv.groupCols.map(c => coalesce(old(c), deltaAgg(c)).as(c)) ++
          sumCols.map(c =>
            (coalesce(col(s"sum_$c"), lit(0L).cast(old.schema(s"sum_$c").dataType))
              + coalesce(col(s"__d_sum_$c"), lit(0L))).as(s"sum_$c")) ++
          Seq((coalesce(col("cnt"), lit(0L)) + coalesce(col("__d_cnt"), lit(0L))).as("cnt")) ++
          minCols.map(c => least(col(s"min_$c"), col(s"__d_min_$c")).as(s"min_$c")) ++
          maxCols.map(c => greatest(col(s"max_$c"), col(s"__d_max_$c")).as(s"max_$c")): _*)
      .filter(col("cnt") > 0)
    merged.write.mode("overwrite").parquet(newMvPath)
    val files = graft.sources.TxnLog.liveFiles(logDir, head).toSeq.sorted
    val newDef = registerSnapshot(files, newMvPath,
      mv.groupCols, sumCols, count = true, minCols, maxCols)
    txnMvs.put(canon(logDir), (head, newDef))
    (head, deltaRows)
  }

  object RewriteToMv extends Rule[LogicalPlan] {

    /** Strip attribute-only Projects and collect deterministic Filters
      * between the aggregate and the relation. */
    private def unwrap(plan: LogicalPlan, filters: Seq[Expression])
        : (LogicalPlan, Seq[Expression]) = plan match {
      case Project(ps, child) if ps.forall(_.isInstanceOf[AttributeReference]) =>
        unwrap(child, filters)
      case Filter(cond, child) if cond.deterministic =>
        unwrap(child, filters :+ cond)
      case other => (other, filters)
    }

    private def rootsOf(plan: LogicalPlan): Option[Seq[String]] = plan match {
      case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
        Some(fs.location.rootPaths.map(p => canon(p.toUri.getPath)))
      case _ => None
    }

    /** Path-registered MVs check source freshness by re-listing;
      * snapshot-registered MVs (txn tables) are fresh by construction —
      * the file set is the version. */
    private def lookup(roots: Seq[String]): Option[MvDef] = roots match {
      case Seq(single) =>
        registry.get(single).filter(mv => snapshotOf(single) == mv.snapshot)
          .orElse(snapshotRegistry.get(Set(single)))
      case many => snapshotRegistry.get(many.toSet)
    }

    override def apply(plan: LogicalPlan): LogicalPlan = {
      if (registry.isEmpty && snapshotRegistry.isEmpty) return plan
      if (conf.getConfString("spark.graft.mv.rewrite", "true") != "true") return plan
      plan.transform {
        case agg: Aggregate => tryRewrite(agg).getOrElse(agg)
      }
    }

    private def tryRewrite(agg: Aggregate): Option[LogicalPlan] = {
      val (base, filters) = unwrap(agg.child, Nil)
      val roots = rootsOf(base).getOrElse(return None)
      val mv = lookup(roots).getOrElse(return None)
      // query group columns must be bare attributes ⊆ MV group columns
      val groupNames = agg.groupingExpressions.map {
        case a: AttributeReference if mv.groupCols.contains(a.name) => a.name
        case _ => return None
      }
      // filters may only touch MV group columns (σ commutes with γ then)
      if (!filters.forall(_.references.forall(a => mv.groupCols.contains(a.name))))
        return None

      val spark = SparkSession.active
      val mvRel = PlanDataset.analyzed(spark.read.parquet(mv.mvPath))
      val mvAttr: Map[String, Attribute] = mvRel.output.map(a => a.name -> a).toMap
      // every MV column the rewrite could need must exist in the files
      if (!(mv.groupCols.forall(mvAttr.contains))) return None

      def rebuilt(ne: NamedExpression): Option[NamedExpression] = ne match {
        case a: AttributeReference if groupNames.contains(a.name) =>
          Some(Alias(mvAttr(a.name), a.name)(exprId = a.exprId))
        case al @ Alias(ae: AggregateExpression, name)
            if ae.mode == Complete && !ae.isDistinct && ae.filter.isEmpty =>
          val fn2 = ae.aggregateFunction match {
            case s @ Sum(a: AttributeReference, _) if mv.sums.contains(a.name) =>
              mvAttr.get(s"sum_${a.name}").map(m => s.copy(child = m))
            case Count(Seq(Literal(v, _))) if v != null && mv.hasCount =>
              // count(*) over the base = sum of per-group counts
              mvAttr.get("cnt").map(m => Sum(m))
            case mn @ Min(a: AttributeReference) if mv.mins.contains(a.name) =>
              mvAttr.get(s"min_${a.name}").map(m => mn.copy(child = m))
            case mx @ Max(a: AttributeReference) if mv.maxs.contains(a.name) =>
              mvAttr.get(s"max_${a.name}").map(m => mx.copy(child = m))
            case _ => None
          }
          fn2.map(f => Alias(ae.copy(aggregateFunction = f), name)(exprId = al.exprId))
        case _ => None
      }

      val newAggs = agg.aggregateExpressions.map(ne => rebuilt(ne).getOrElse(return None))
      val newGroups: Seq[Expression] = groupNames.map(mvAttr)
      val newChild =
        if (filters.isEmpty) mvRel
        else Filter(
          // refs were checked ⊆ MV group cols above, and group cols ⊆ mvAttr
          filters.map(_.transform {
            case a: AttributeReference => mvAttr(a.name)
          }).reduce(And),
          mvRel)
      Some(Aggregate(newGroups, newAggs, newChild, None))
    }
  }
}
