package graft.io

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.{FeatherPartitions, FeatherSnapshots}

/** SQL `INSERT INTO` / `INSERT OVERWRITE` over graft tables — the
  * append/overwrite snapshot commit as a statement (reference anchor:
  * the reference appends by frame concat, python/cudf/cudf/core/
  * reshape.py `concat`; a table needs the commit + routing story):
  *
  * {{{
  *   INSERT INTO graft.`/t` SELECT ...                  -- positional
  *   INSERT INTO graft.`/t` (id, amt) SELECT ...        -- column list
  *   INSERT INTO graft.`/t` PARTITION (day='d1') SELECT ...
  *   INSERT OVERWRITE graft.`/t` SELECT ...             -- replace all
  *   INSERT OVERWRITE graft.`/t` PARTITION (day='d1') SELECT ...
  * }}}
  *
  * Semantics (Spark/Hive parity where the table tier has a story):
  *  - POSITIONAL by default: the query must produce exactly the
  *    table's columns — data columns first, then the partition columns
  *    the PARTITION spec leaves dynamic (Hive's convention, and the
  *    same order a read of the table produces). `BY NAME` / a column
  *    list match by (case-conf'd) name; columns neither supplies read
  *    as NULL in the new rows (the merge-insert rule).
  *  - types apply under the mutation tier's lossless-or-exact rule —
  *    a silently lossy INSERT cast would corrupt rows.
  *  - EXTRA columns refuse with evolution guidance: the SQL statement
  *    has no mergeSchema opt-in, so it can never evolve the schema by
  *    accident (the write-evolution gate's contract).
  *  - a hive-partitioned table routes each row to the leaf its values
  *    name (the shared [[FeatherMutations.routePartitionedInserts]]);
  *    a static `PARTITION (k=v)` pins that column for every row.
  *  - `INSERT INTO` commits as a BLIND APPEND (commutes with
  *    concurrent mutations under the conflict matrix); an append of
  *    zero rows publishes NO version (the replay-clean rule).
  *  - `INSERT OVERWRITE` replaces the whole table — or exactly the
  *    leaves matching its static PARTITION spec — under the mutation
  *    conflict check (a racing mutation aborts loudly); prior versions
  *    keep reading their files until expire.
  *
  * Both `graft.` and `graft_dv.` spellings are accepted: the strategy
  * faces only differ where a mutation can MASK instead of rewrite, and
  * an insert writes new parts either way. */
object TableInserts {
  import FeatherMutations.Result

  private[io] val InsertSnapshotsHint =
    "the statement writes into an EXISTING table (its schema comes " +
      "from the table); create one with the write APIs or " +
      "option(\"snapshots\", \"true\") first"

  /** The table's merged schema, data columns first and hive partition
    * columns last — what a COPY INTO must impose on schemaless source
    * reads (csv/json). One snapshot resolution, no data read. */
  def tableFullSchema(spark: SparkSession, path: String): StructType =
    FeatherMutations.resolveTable(spark, path, "tableFullSchema",
      requireHive = false, snapshotsHint = InsertSnapshotsHint).fullSchema

  /** The statement's shape against the table: PARTITION spec names,
    * the column list / BY NAME / positional width, extra columns (no
    * schema evolution), unsupplied partition columns. Returns the static
    * partition values and (table column → query column index), or
    * `bad`'s refusal — ONE wording for [[insert]] and the SQL analysis
    * check ([[graft.extensions.GraftStatementChecks]]). */
  def align(fullSchema: StructType, partCols: Seq[String],
            partitionSpec: Map[String, Option[String]],
            queryCols: Seq[String], userCols: Seq[String], byName: Boolean,
            caseSensitive: Boolean, bad: String => Nothing)
      : (Map[String, String], Map[String, Int]) = {
    val canon = FeatherMutations.canonicalName(fullSchema, caseSensitive) _
    // static entries (k=v) pin the column for every row; dynamic entries
    // (bare k) only DECLARE that the column arrives from the query — our
    // positional convention already expects it there, so they validate
    // and contribute nothing else (Hive parity).
    val specNamed = partitionSpec.toSeq.map { case (k, v) => canon(k) -> v }
    specNamed.groupBy(_._1).foreach { case (n, vs) =>
      if (vs.size > 1) bad(s"PARTITION spec names '$n' more than once") }
    specNamed.foreach { case (k, _) =>
      if (!partCols.contains(k))
        bad(s"PARTITION spec names '$k', which is not a partition column " +
          s"of this table (${if (partCols.isEmpty) "the table is not " +
            "partitioned" else partCols.mkString(", ")})")
    }
    val static: Map[String, String] = specNamed.collect {
      case (k, Some(v)) => k -> v }.toMap
    // expected input = the table's columns minus the statically-pinned
    // partition columns, in table order (data first, partitions last)
    val expected: Seq[String] =
      fullSchema.fieldNames.toSeq.filterNot(static.contains)
    def evolutionRefusal(names: Seq[String]): Nothing =
      bad(s"the query supplies column(s) ${names.mkString(", ")} not in " +
        s"the table schema (${fullSchema.fieldNames.mkString(", ")}) — " +
        "a SQL INSERT has no mergeSchema opt-in and never evolves the " +
        "schema; evolve via the write API's mergeSchema=true or MERGE " +
        "WITH SCHEMA EVOLUTION, or drop the column")
    val provided: Map[String, Int] =
      if (userCols.nonEmpty) {
        if (userCols.size != queryCols.size)
          bad(s"the column list names ${userCols.size} column(s) but the " +
            s"query produces ${queryCols.size}")
        val named = userCols.map(canon)
        named.groupBy(identity).foreach { case (n, vs) =>
          if (vs.size > 1) bad(s"the column list names '$n' more than once") }
        named.find(static.contains).foreach(n =>
          bad(s"the column list names '$n', already pinned by the " +
            "PARTITION spec"))
        val unknown = named.filterNot(expected.contains)
        if (unknown.nonEmpty) evolutionRefusal(unknown)
        named.zipWithIndex.toMap
      } else if (byName) {
        val named = queryCols.map(canon)
        named.groupBy(identity).foreach { case (n, vs) =>
          if (vs.size > 1) bad(s"BY NAME: the query produces '$n' more " +
            "than once") }
        named.find(static.contains).foreach(n =>
          bad(s"BY NAME: the query supplies '$n', already pinned by " +
            "the PARTITION spec"))
        val unknown = named.filterNot(expected.contains)
        if (unknown.nonEmpty) evolutionRefusal(unknown)
        named.zipWithIndex.toMap
      } else {
        if (queryCols.size != expected.size)
          bad(s"the query produces ${queryCols.size} column(s) but the " +
            s"table expects ${expected.size} (${expected.mkString(", ")})" +
            " — positional INSERT supplies every column in table order; " +
            "use INSERT INTO t (cols...) or BY NAME for a subset" +
            (if (queryCols.size > expected.size) "; a SQL INSERT never " +
              "evolves the schema (no mergeSchema opt-in)" else ""))
        expected.zipWithIndex.toMap
      }
    partCols.find(c => !static.contains(c) && !provided.contains(c))
      .foreach(c => bad(s"partition column '$c' is supplied by neither " +
        "the query nor the PARTITION spec — an unnamed partition value " +
        "would route rows to the null partition"))
    (static, provided)
  }

  def insert(spark: SparkSession, path: String, query: DataFrame,
             overwrite: Boolean,
             partitionSpec: Map[String, Option[String]] = Map.empty,
             userCols: Seq[String] = Nil, byName: Boolean = false,
             codec: String = "lz4", tag: String = "ins-"): Result = {
    val op = if (overwrite) "INSERT OVERWRITE" else "INSERT INTO"
    def bad(msg: String): Nothing =
      throw new IllegalArgumentException(s"$op graft.`$path`: $msg")
    val r = FeatherMutations.resolveTable(spark, path, op,
      requireHive = true, snapshotsHint = InsertSnapshotsHint)
    val FeatherMutations.Resolved(root, fs, snap, face, partCols,
      absFiles, tableSchema, partSchema, fullSchema, caseSensitive,
      _) = r
    val partitioned = r.partitioned
    val (static, providedIdx) = align(fullSchema, partCols, partitionSpec,
      query.columns.toSeq, userCols, byName, caseSensitive, bad)
    // the static value must PARSE as the column's inferred type — a
    // null-casting spelling would silently route every row to the null
    // leaf
    static.foreach { case (k, v) =>
      if (scala.util.Try(FeatherPartitions.castValue(v, fullSchema(k)
          .dataType)).filter(_ != null).isFailure)
        bad(s"PARTITION spec value $k='$v' does not parse as the " +
          s"column's ${fullSchema(k).dataType.catalogString}")
    }
    // positional placeholder names decouple alignment from the query's
    // own (possibly duplicate) output names — `SELECT a, a` is legal in
    // the positional and column-list modes
    val posNames = query.columns.indices.map(i => s"__ins_c$i")
    val q2 = query.toDF(posNames: _*)
    // provided: expected-column name -> (source column, its type)
    val provided: Map[String, (Column, DataType)] = providedIdx.map {
      case (n, i) => n -> (q2(posNames(i)), query.schema(i).dataType) }
    // lossless-or-exact per column (the mutation tier's rule); columns
    // the statement does not supply read as NULL in the new rows
    // every output column carries the TABLE's nullability (a literal's
    // non-nullable footer would poison first-footer schema inference
    // over the null-bearing generations — nullableAsTable's contract)
    val outCols: Seq[Column] = fullSchema.fields.toSeq.map { f =>
      val raw: Column = static.get(f.name) match {
        case Some(v) => lit(v).cast(f.dataType)
        case None => provided.get(f.name) match {
          case Some((c, actual)) =>
            if (!(actual == f.dataType ||
                org.apache.spark.sql.catalyst.expressions.Cast
                  .canUpCast(actual, f.dataType)))
              bad(s"column '${f.name}' (${f.dataType.catalogString}) " +
                s"from a ${actual.catalogString} expression — only exact " +
                "types and lossless upcasts are applied; cast the query " +
                "column explicitly if the narrowing is intended")
            c.cast(f.dataType)
          case None => lit(null).cast(f.dataType)
        }
      }
      FeatherMutations.nullableAsTable(raw, f.nullable).as(f.name)
    }
    // one statement, one instant: the routed write evaluates the query
    // in several jobs (distinct() + per-leaf slices; persist is
    // best-effort), so resolved clock calls pin to literals first
    val out1 = FeatherMutations.pinClockInPlan(spark,
      q2.select(outCols: _*), java.time.Instant.now())
    // a PARTITIONED insert re-scans the query per leaf (the routed
    // write's distinct() + slices), so a nondeterministic query could
    // route a row by one evaluation and write another. Spark's own
    // sinks and Delta ACCEPT such inserts (one evaluation), so refusing
    // would be a regression — instead MATERIALIZE: localCheckpoint
    // severs the lineage eagerly, so every later job reads the one
    // evaluated result (plain persist is best-effort under eviction —
    // an evicted block would re-evaluate rand() differently)
    val out0 =
      if (partitioned && query.queryExecution.analyzed.exists(p =>
            !p.expressions.forall(_.deterministic)))
        out1.localCheckpoint()
      else out1

    // ---- write + commit -----------------------------------------------------
    val targetV = snap.version + 1
    val prefix = FeatherSnapshots.runPrefix(targetV, tag)
    def noOp = Result(snap.version, 0, snap.files.size, 0)
    val valuesByAbs: Map[String, Seq[(String, String)]] = r.valuesByAbs
    // OVERWRITE's victims: every current file, or exactly the leaves
    // matching the static spec (typed compare — 'd1' matches d1 however
    // the spelling canonicalizes)
    def matchesSpec(abs: String): Boolean = static.forall { case (k, v) =>
      val leaf = valuesByAbs.getOrElse(abs, Nil).toMap.get(k).orNull
      val dt = fullSchema(k).dataType
      leaf != null &&
        scala.util.Try(FeatherPartitions.castValue(leaf, dt)).toOption ==
          scala.util.Try(FeatherPartitions.castValue(v, dt)).toOption
    }
    val removeRelStatic: Set[String] =
      if (!overwrite) Set.empty
      else if (static.isEmpty) snap.files.map(_._1).toSet
      else snap.files.map(_._1).toSet.filter(rel =>
        matchesSpec(new Path(root, rel).toString))
    // Spark's OWN partitionOverwriteMode conf decides OVERWRITE scope on
    // a partitioned table when the static spec leaves partition columns
    // dynamic: STATIC (the default) replaces the whole table / the
    // static-spec leaves; DYNAMIC replaces exactly the leaves the
    // query's rows land in — the backfill contract (re-run one day's
    // job, swap only that day's leaves), same conf the built-in
    // partitioned sinks honor. A fully-static spec is static either way.
    val dynamicOverwrite = overwrite && partitioned &&
      static.size < partCols.size &&
      spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
        .equalsIgnoreCase("dynamic")

    val (out, ownOut) = ConnectorFace.pinIfUncached(out0)
    try {
      // zero-row APPEND publishes no version (replay-clean); zero-row
      // OVERWRITE is a truncation and must still commit
      if (!overwrite && out.limit(1).count() == 0) return noOp
      val added = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
      if (partitioned)
        added ++= FeatherMutations.routePartitionedInserts(op, face, fs,
          root, out, partCols, tableSchema, prefix, codec)
      else {
        val parts = face.writeParts(
          out.coalesce(math.max(1, ConnectorFace.capWriteParts(out))),
          root.toString, prefix, codec)
        if (parts.nonEmpty)
          FeatherStats.upsertMerged(fs, root,
            parts.map { case (name, len, js) =>
              name -> (len, FeatherStats.fromJson(js)) }.toMap)
        added ++= parts.map { case (name, len, _) => (name, len) }
      }
      if (!overwrite) {
        if (added.isEmpty) return noOp
        // a blind append: commutes with concurrent mutations (the
        // publishDataCommit protocol ParquetTable.append rides)
        val committed = FeatherSnapshots.publishDataCommit(fs, root,
          truncate = false, Seq(face.suffix), added.toSeq,
          stampPart = () => face.stamp(fs, root, prefix, tableSchema))
        Result(committed, 0, snap.files.size, added.size)
      } else {
        // DYNAMIC victims derive from the WRITTEN leaf dirs — zero extra
        // jobs, a leaf the query produced no rows for is (correctly)
        // untouched, and a zero-row dynamic overwrite is a NO-OP, not a
        // truncation (Spark's own dynamic-mode semantics). Matching is
        // by TYPED value, not raw dir string (matchesSpec's rule): an
        // adopted layout may spell 'day=07' where the routed write
        // spells 'day=7' — string equality would leave the old leaf in
        // place and the partition would read both generations.
        val removeRel: Set[String] =
          if (!dynamicOverwrite) removeRelStatic
          else {
            def typedLeaf(rel: String): Option[Seq[Option[Any]]] = {
              val dir = FeatherMutations.relDirOf(rel)
              if (dir.isEmpty) None
              else Some(dir.split('/').toSeq.zip(partCols).map {
                case (seg, c) =>
                  val raw = FeatherPartitions.unescapePath(
                    seg.substring(seg.indexOf('=') + 1))
                  scala.util.Try(FeatherPartitions
                    .castValue(raw, fullSchema(c).dataType)).toOption
              })
            }
            val written = added.flatMap { case (rel, _) =>
              typedLeaf(rel) }.toSet
            snap.files.map(_._1).toSet
              .filter(rel => typedLeaf(rel).exists(written))
          }
        if (added.isEmpty && removeRel.isEmpty) return noOp
        // an overwrite that empties the table (or all of it) still
        // leaves a readable schema — the shared per-leaf stamps
        if (added.isEmpty &&
            snap.files.forall { case (rel, _) => removeRel(rel) })
          added ++= FeatherMutations.stampLeaves(face, fs, root,
            snap.files.map(_._1), prefix, tableSchema)
        val committed = FeatherSnapshots.commitMutation(fs, root,
          "overwrite", snap, removeRel, added.toSeq)
        Result(committed, removeRel.size, snap.files.size - removeRel.size,
          added.size)
      }
    } finally {
      if (ownOut) out.unpersist(blocking = false): Unit
    }
  }
}
