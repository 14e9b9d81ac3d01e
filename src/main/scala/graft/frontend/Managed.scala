package graft.frontend

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.hadoop.fs.Path
import graft.pipeline.Lineage

import Syntax._
import Analyzer._

/** Managed, writable tables backing the DML statements: each table is
  * a parquet directory; INSERT/UPDATE/DELETE are read-transform-swap
  * rewrites (write a fresh directory, then swap it in), the same
  * strategy a lakehouse table format uses minus the transaction log —
  * single-writer semantics, documented (SURVEY §7.7).
  */
final class ManagedCatalog(
    val spark: SparkSession,
    val root: String,
    val env: Env) {

  /** Hive-style partition columns per table: scans of a filtered
    * partition column prune directories entirely (the first-order
    * 100 TB layout decision). Registered via `partitionBy`.
    */
  private var partitionSpec: Map[String, Seq[String]] = Map.empty

  def partitionBy(table: String, cols: String*): this.type = {
    partitionSpec = partitionSpec.updated(table, cols.toSeq)
    this
  }

  def partitionColumns(table: String): Seq[String] =
    partitionSpec.getOrElse(table, Nil)

  private def fs = new Path(root).getFileSystem(
    spark.sparkContext.hadoopConfiguration)

  def tablePath(name: String): String = s"$root/$name"

  def schemaOf(name: String): StructType = {
    val (_, ddl) = env.findTable(name)
    StructType(ddl.cols.map(c =>
      org.apache.spark.sql.types.StructField(c.name,
        Lowering.toSparkType(c.ty), c.ty.nullable)))
  }

  def exists(name: String): Boolean = fs.exists(new Path(tablePath(name)))

  /** A crash between overwrite()'s two renames leaves no live dir but
    * a complete .bak — the only surviving copy. Every entry point that
    * would otherwise observe "table absent" (and, worse, delete .bak
    * on the next write) restores it first. Loud failure over silent
    * data loss if the restore rename itself fails.
    */
  private def recoverIfNeeded(name: String): Unit = {
    val live = new Path(tablePath(name))
    val bak = new Path(tablePath(name) + ".bak")
    if (!fs.exists(live) && fs.exists(bak)) {
      if (!fs.rename(bak, live))
        fail(s"crash recovery: failed to restore $name from its .bak copy")
      spark.catalog.refreshByPath(live.toString)
    }
  }

  def load(name: String): DataFrame = {
    recoverIfNeeded(name)
    // the declared schema overrides partition-column inference: a
    // hive-partitioned BOOL/STRING/INT partition column otherwise comes
    // back with whatever type Spark infers from the directory names
    if (exists(name)) spark.read.schema(schemaOf(name)).parquet(tablePath(name))
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], schemaOf(name))
  }

  /** Swap-in a new table state: write to a sibling tmp dir, then
    * replace the live dir. The new state is fully materialized before
    * the old one is touched.
    */
  def overwrite(name: String, df: DataFrame): Unit = {
    recoverIfNeeded(name)
    val live = new Path(tablePath(name))
    val tmp = new Path(tablePath(name) + ".tmp")
    val cols = schemaOf(name).fields.map(f =>
      col(f.name).cast(f.dataType).as(f.name))
    if (fs.exists(tmp)) fs.delete(tmp, true)
    val writer = df.select(cols.toIndexedSeq: _*).write.mode("overwrite")
    val parts = partitionColumns(name)
    (if (parts.nonEmpty) writer.partitionBy(parts: _*) else writer)
      .parquet(tmp.toString)
    // live -> .bak, tmp -> live, drop .bak: the table directory is
    // never absent, and a crash mid-swap recovers with a rename rather
    // than a restore
    val bak = new Path(tablePath(name) + ".bak")
    if (fs.exists(bak)) fs.delete(bak, true)
    if (fs.exists(live) && !fs.rename(live, bak))
      fail(s"failed to stage old state of $name aside")
    if (!fs.rename(tmp, live)) fail(s"failed to swap in new state for $name")
    if (fs.exists(bak)) fs.delete(bak, true)
    // the swap bypasses Spark's write path, so its shared file-status
    // cache still lists the replaced files — invalidate explicitly
    spark.catalog.refreshByPath(live.toString)
  }

  def drop(name: String): Unit = {
    val p = new Path(tablePath(name))
    if (fs.exists(p)) fs.delete(p, true)
    val bak = new Path(tablePath(name) + ".bak")
    if (fs.exists(bak)) fs.delete(bak, true)
    spark.catalog.refreshByPath(p.toString)
  }

  def rename(from: String, to: String): Unit = {
    recoverIfNeeded(from)
    val a = new Path(tablePath(from))
    val b = new Path(tablePath(to))
    // a stale `from.bak` can survive a crash that hit overwrite()
    // between its tmp→live swap and the final .bak delete; once the
    // live dir moves away it would make a later load of `from`
    // "recover" pre-overwrite data as a live table. Delete it BEFORE
    // the rename: at this point the live dir exists (recoverIfNeeded
    // above consumed any genuine crash survivor), so the .bak is
    // provably stale — deleting first leaves no window where the live
    // dir is gone but the stale .bak remains
    val aBak = new Path(tablePath(from) + ".bak")
    if (fs.exists(a) && fs.exists(aBak)) fs.delete(aBak, true)
    if (fs.exists(a) && !fs.rename(a, b)) fail(s"failed to rename $from")
    spark.catalog.refreshByPath(a.toString)
    spark.catalog.refreshByPath(b.toString)
  }
}

/** DML execution over a ManagedCatalog (SURVEY §2.1 INSERT/UPDATE/
  * DELETE rows): lowering of the analyzed DML statements.
  */
final class ManagedEngine(
    val catalog: ManagedCatalog,
    val engine: Engine) {

  private def spark = catalog.spark
  private def env = catalog.env

  def sql(src: String, params: Map[String, Any] = Map.empty): DataFrame =
    exec(src, params)

  /** Execute any statement; SELECTs return their result, DML returns
    * the RETURNING rows (empty DataFrame with the right schema when no
    * RETURNING clause was given).
    */
  def exec(src: String, params: Map[String, Any] = Map.empty): DataFrame = {
    val info = analyzeQuery(env, Parser.parseQuery(src))
    val (query2, params2) = Binder.resolve(env, info, params)
    val ctx = Lowering.Ctx(spark, env, catalog.load _, params2)
    query2 match {
      case QSelect(sel) => Lowering.lowerSelect(ctx, info.scope, sel)
      case QInsert(i)   => execInsert(ctx, info, i)
      case QUpdate(u)   => execUpdate(ctx, info, u)
      case QDelete(d)   => execDelete(ctx, info, d)
    }
  }

  private def primaryKeys(table: String): Seq[String] = {
    val (_, ddl) = env.findTable(table)
    ddl.cols.filter(_.primaryKey).map(_.name)
  }

  /** The one RETURNING discipline, shared by INSERT/UPDATE/DELETE:
    * project the fields over the affected rows (already carried in
    * `table__col` namespace), rewriting IN/EXISTS subqueries to flag
    * joins. Callers build this BEFORE the table swap: the affected
    * frame is checkpointed so plain projections lazily observe
    * pre-write values, and a subquery field — which would otherwise
    * lazily re-read its tables after the swap — forces an eager
    * materialization here, pre-swap.
    */
  private def returningProjection(ctx: Lowering.Ctx, nsFrame: DataFrame,
      returning: List[SelectField]): DataFrame = {
    if (returning.isEmpty) nsFrame.limit(0).select()
    else {
      val cols = returning.collect { case FieldE(Some(n), e, true) => (n, e) }
      val proj = Lowering.projectWithSubqueries(ctx, nsFrame, cols)
      if (cols.exists { case (_, e) => Lowering.containsSubquery(e) })
        Lineage.truncate(proj)
      else proj
    }
  }

  /** Driver-side evaluation of a constant VALUES expression to the
    * Spark external type the declared column wants; `Some(null)` for
    * NULL, `None` when the expression isn't a constant.
    */
  private def constValue(ctx: Lowering.Ctx, e: Expr,
      target: org.apache.spark.sql.types.DataType): Option[Any] = {
    import org.apache.spark.sql.types.{BooleanType, DateType, DoubleType,
      LongType, StringType, TimestampType}
    def coerce(v: Any): Any = (v, target) match {
      case (null, _)                => null
      case (x: Int, LongType)       => x.toLong
      case (x: Int, DoubleType)     => x.toDouble
      case (x: Long, DoubleType)    => x.toDouble
      case (x: Float, DoubleType)   => x.toDouble
      case (x, _)                   => x
    }
    // defensive gate on the batch fast path: a (value, target) combo
    // coerce doesn't handle (e.g. a Double reaching a LongType column)
    // must NOT ride into createDataFrame under the declared schema —
    // it would fail at row encoding instead of casting. Returning None
    // falls back to the compile path, which casts like overwrite() does.
    def fits(v: Any): Boolean = (v, target) match {
      case (null, _)                         => true
      case (_: Long, LongType)               => true
      case (_: Double, DoubleType)           => true
      case (_: String, StringType)           => true
      case (_: Boolean, BooleanType)         => true
      case (_: java.sql.Timestamp, TimestampType) => true
      case (_: java.sql.Date, DateType)      => true
      case _                                 => false
    }
    def checked(v: Any): Option[Any] = Some(coerce(v)).filter(fits)
    e match {
      case ELit(LitInt(v))    => checked(v)
      case ELit(LitFloat(v))  => checked(v)
      case ELit(LitString(v)) => checked(v)
      case ELit(LitBool(v))   => checked(v)
      case ENull              => Some(null)
      case EAscribe(e2, _)    => constValue(ctx, e2, target)
      case EApp("datetime", List(ELit(LitString(d)))) =>
        checked(java.sql.Timestamp.valueOf(d.replace('T', ' ')))
      case EApp("date", List(ELit(LitString(d)))) =>
        checked(java.sql.Date.valueOf(d))
      case EParam(n) => ctx.params.get(n) match {
        case Some(None)    => Some(null)
        case Some(Some(x)) => checked(x)
        case Some(x)       => checked(x)
        case None          => fail(s"missing value for param ?$n")
      }
      case _ => None
    }
  }

  private def execInsert(ctx: Lowering.Ctx, info: QueryInfo,
      i: Insert): DataFrame = {
    val existing = catalog.load(i.table)
    val (_, ddl) = env.findTable(i.table)

    // new rows with the declared columns only
    val incoming: DataFrame = i.from match {
      case InsertValues(rows) =>
        // the common case (every value a literal/param) builds ONE
        // local DataFrame: a per-tuple union is O(n) plan nodes and
        // chokes Catalyst on large VALUES lists
        val colTypes = i.columns.map(c =>
          Lowering.toSparkType(ddl.cols.find(_.name == c)
            .getOrElse(fail(s"no such column $c")).ty))
        val consts: Option[List[List[Any]]] = {
          val evaled = rows.map(row => row.zip(colTypes).map { case (e, t) =>
            constValue(ctx, e, t)
          })
          if (evaled.forall(_.forall(_.isDefined)))
            Some(evaled.map(_.map(_.get)))
          else None
        }
        consts match {
          case Some(vals) =>
            val schema = StructType(i.columns.zip(colTypes).map {
              case (c, t) => org.apache.spark.sql.types.StructField(c, t,
                nullable = true)
            })
            import scala.jdk.CollectionConverters._
            spark.createDataFrame(
              vals.map(Row.fromSeq(_)).asJava, schema)
          case None =>
            // non-constant VALUES (now(), arithmetic, subqueries):
            // rare and small — the per-row plan is acceptable there
            rows.map { row =>
              Lowering.projectWithSubqueries(ctx,
                spark.range(1).toDF(), i.columns.zip(row))
            }.reduce(_.unionByName(_))
        }
      case InsertSelect(sel) =>
        val scope = env.subSelectScopes.get(sel)
        if (scope == null) fail("no recorded scope for INSERT ... SELECT")
        Lowering.lowerSelect(ctx, scope, sel).toDF(i.columns: _*)
    }

    // fill unlisted columns: autoincrement from max+1, defaults, nulls
    val maxAuto: Map[String, Long] = ddl.cols.collect {
      case c if c.autoincrement && !i.columns.contains(c.name) =>
        val m = existing.agg(max(col(c.name))).collect()(0)
        c.name -> (if (m.isNullAt(0)) 0L else m.getLong(0))
    }.toMap
    // sequential row numbers are only needed to fill an autoincrement
    // column; zipWithIndex derives them from per-partition counts
    // (two narrow passes) instead of a global single-partition window
    val withRn: DataFrame =
      if (maxAuto.isEmpty) incoming
      else {
        val schema2 = incoming.schema.add("__rn",
          org.apache.spark.sql.types.LongType, nullable = false)
        spark.createDataFrame(
          incoming.rdd.zipWithIndex.map { case (r, idx) =>
            Row.fromSeq(r.toSeq :+ (idx + 1L)) },
          schema2)
      }
    val withAll = ddl.cols.foldLeft(withRn) { (df, c) =>
      if (i.columns.contains(c.name)) df
      else if (c.autoincrement)
        df.withColumn(c.name, lit(maxAuto(c.name)) + col("__rn"))
      else c.default match {
        case Some(e) => df.withColumn(c.name, Lowering.compile(ctx, e))
        case None    => df.withColumn(c.name,
          lit(null).cast(Lowering.toSparkType(c.ty)))
      }
    }
    val newRows = withAll.select(ddl.cols.map(c => col(c.name)): _*)

    // ON CONFLICT against the primary key: (affected, untouched) —
    // affected rows land in the table AND feed RETURNING
    val pks = primaryKeys(i.table)
    val (finalNew, finalExisting) = i.onConflict match {
      case None => (newRows, existing)
      case Some(ConflictIgnore) =>
        if (pks.isEmpty) (newRows, existing)
        else (newRows.join(existing.select(pks.map(col): _*), pks, "left_anti"),
          existing)
      case Some(ConflictReplace) =>
        if (pks.isEmpty) (newRows, existing)
        else (newRows,
          existing.join(newRows.select(pks.map(col): _*), pks, "left_anti"))
      case Some(ConflictUpdate(set)) =>
        if (pks.isEmpty) (newRows, existing)
        else {
          // one action per key among the incoming rows. PostgreSQL
          // raises "cannot affect row a second time"; here the
          // smallest full row (struct order: pk, then remaining
          // columns) acts, which — unlike dropDuplicates, whose pick
          // follows partition order — is deterministic across
          // reruns/partitionings.
          val nrCols = newRows.columns.toIndexedSeq
          val incoming1 = newRows
            .groupBy(pks.map(col): _*)
            .agg(min(struct(nrCols.map(col): _*)).as("__r"))
            .select(nrCols.map(c => col(s"__r.$c").as(c)): _*)
          val freshNew = incoming1.join(
            existing.select(pks.map(col): _*), pks, "left_anti")
          // conflicting (existing, incoming) pairs, namespaced so SET
          // expressions resolve `table.col` to the existing row and
          // `excluded.col` to the incoming one
          val exNs = existing.select(existing.columns.map(c =>
            col(c).as(s"${i.table}__$c")).toIndexedSeq: _*)
          val incNs = incoming1.select(incoming1.columns.map(c =>
            col(c).as(s"excluded__$c")).toIndexedSeq: _*)
          val joinCond = pks.map(k =>
            col(s"${i.table}__$k") === col(s"excluded__$k")).reduce(_ && _)
          val pairs = exNs.join(incNs, joinCond, "inner")
          // SET may carry IN/EXISTS subqueries — same flag-join
          // rewrite as UPDATE
          val computed = Lowering.withColumnsWithSubqueries(ctx, pairs,
            set.map { case (n, e) => (s"__new_$n", e) })
          val colTy = ddl.cols.map(c => c.name -> c.ty).toMap
          val updatedRows = computed.select(existing.columns.map { c =>
            if (set.exists(_._1 == c))
              col(s"__new_$c").cast(Lowering.toSparkType(colTy(c))).as(c)
            else col(s"${i.table}__$c").as(c)
          }.toIndexedSeq: _*)
          (freshNew.unionByName(updatedRows),
            existing.join(incoming1.select(pks.map(col): _*), pks,
              "left_anti"))
        }
    }
    // materialize before the swap: RETURNING must observe the
    // pre-write state, not lazily recompute over the new files
    val inserted = Lineage.truncate(finalNew)
    // RETURNING is built (and, with subqueries, materialized) BEFORE
    // the swap so it observes pre-write state
    val ret = returningProjection(ctx,
      inserted.select(inserted.columns.map(c =>
        col(c).as(s"${i.table}__$c")).toIndexedSeq: _*),
      i.returning)
    catalog.overwrite(i.table, finalExisting.unionByName(inserted))
    ret
  }

  private def execDelete(ctx: Lowering.Ctx, info: QueryInfo,
      d: Delete): DataFrame = {
    val existing = catalog.load(d.table)
    val nsd = existing.select(existing.columns.map(c =>
      col(c).as(s"${d.table}__$c")).toIndexedSeq: _*)
    // WHERE may carry IN/EXISTS subqueries: rewrite them to flag
    // columns materialized on the frame (the same machinery SELECT
    // positions use), filter on the compiled predicate, then strip
    // the helper columns
    val (withPred, cond) = d.where match {
      case Some(w) => Lowering.predicateWithSubqueries(ctx, nsd, w)
      case None    => (nsd, lit(true))
    }
    // the deleted-rows frame is only materialized when RETURNING will
    // read it — a plain DELETE shouldn't pay an eager job for rows
    // nothing observes
    val deleted0 = Lowering.dropSubqueryFlags(
      withPred.filter(coalesce(cond, lit(false))))
    val deleted =
      if (d.returning.isEmpty) deleted0 else Lineage.truncate(deleted0)
    val kept = Lowering.dropSubqueryFlags(
      withPred.filter(!coalesce(cond, lit(false))))
    // RETURNING first (pre-write observation), then the swap
    val ret = returningProjection(ctx, deleted, d.returning)
    catalog.overwrite(d.table, kept.select(existing.columns.map(c =>
      col(s"${d.table}__$c").as(c)).toIndexedSeq: _*))
    ret
  }

  private def execUpdate(ctx: Lowering.Ctx, info: QueryInfo,
      u: Update): DataFrame = {
    val existing = catalog.load(u.table)
    val nsd = existing.select(existing.columns.map(c =>
      col(c).as(s"${u.table}__$c")).toIndexedSeq: _*)
    // UPDATE ... FROM: join the extra sources; rows may match multiple
    // join rows — keep the first per base row (classic UPDATE FROM
    // nondeterminism, made deterministic here)
    val matched = u.from match {
      case None =>
        // WHERE may carry IN/EXISTS subqueries — same flag-column
        // rewrite as DELETE
        val (withPred, cond) = u.where match {
          case Some(w) => Lowering.predicateWithSubqueries(ctx, nsd, w)
          case None    => (nsd, lit(true))
        }
        Lowering.dropSubqueryFlags(
          withPred.filter(coalesce(cond, lit(false))))
      case Some(f) =>
        val scope = info.innerScope
        val fromDf = Lowering.lowerFromForDml(ctx, scope, f)
        // an explicit inner join (not crossJoin+filter) keeps the
        // WHERE's equi-predicates visible as the join condition, so a
        // pathological WHERE can never plan as a full cartesian;
        // subquery conjuncts can't join-condition anyway — they are
        // rewritten to flag columns on the joined frame and filtered
        val (subConjs, plainConjs) = u.where
          .map(Lowering.conjuncts).getOrElse(Nil)
          .partition(Lowering.containsSubquery)
        val joinCond = plainConjs.map(Lowering.compile(ctx, _))
          .reduceOption(_ && _)
          .map(c => coalesce(c, lit(false))).getOrElse(lit(true))
        val joined = nsd.join(fromDf, joinCond, "inner")
        if (subConjs.isEmpty) joined
        else {
          val pred = subConjs.reduce((a, b) => EApp("AND", List(a, b)))
          val (withPred, cond) =
            Lowering.predicateWithSubqueries(ctx, joined, pred)
          Lowering.dropSubqueryFlags(
            withPred.filter(coalesce(cond, lit(false))))
        }
    }
    val pks = primaryKeys(u.table)
    val keyCols = if (pks.nonEmpty) pks.map(c => s"${u.table}__$c")
      else existing.columns.map(c => s"${u.table}__$c").toSeq
    val firstMatch = matched.dropDuplicates(keyCols)
    // compute updated values, then re-enter the namespaced world with
    // the SET columns replaced (RETURNING sees post-update values and
    // may reference FROM-source columns, reference update.t:50-58)
    // SET expressions may carry IN/EXISTS subqueries: rewritten to
    // flag joins on the matched frame, helpers stripped after
    val updated = Lowering.withColumnsWithSubqueries(ctx, firstMatch,
      u.set.map { case (name, e) => (s"__new_$name", e) })
    val postNs0 = updated.select(updated.columns.collect {
      case c if !c.startsWith("__new_") =>
        val base = c.stripPrefix(s"${u.table}__")
        if (c.startsWith(s"${u.table}__") && u.set.exists(_._1 == base))
          col(s"__new_$base").as(c)
        else col(c)
    }.toIndexedSeq: _*)
    // materialized only when RETURNING will lazily read it after the
    // swap; a plain UPDATE computes it once, inside the write
    val postNs =
      if (u.returning.isEmpty) postNs0 else Lineage.truncate(postNs0)
    val updatedRows = postNs.select(existing.columns.map(c =>
      col(s"${u.table}__$c").as(c)).toIndexedSeq: _*)
    // anti-join on the PRE-update key values: when SET touches a
    // primary-key column the post-update keys would keep the original
    // row and silently drop an unrelated row that already carries the
    // new key value
    val untouched =
      if (pks.nonEmpty) {
        val preKeys = firstMatch.select(pks.map(c =>
          col(s"${u.table}__$c").as(c)).toIndexedSeq: _*)
        existing.join(preKeys, pks, "left_anti")
      } else
        existing.exceptAll(firstMatch.select(existing.columns.map(c =>
          col(s"${u.table}__$c").as(c)).toIndexedSeq: _*))
    // RETURNING first (pre-write observation), then the swap
    val ret = returningProjection(ctx, postNs, u.returning)
    catalog.overwrite(u.table, untouched.unionByName(updatedRows))
    ret
  }
}
