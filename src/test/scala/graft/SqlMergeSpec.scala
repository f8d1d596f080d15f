package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.io.ConditionalMerge
import graft.sources.FeatherSnapshots

/** SQL `MERGE INTO graft.`/path``: Spark's own MERGE analysis and
  * row-level rewrite over the catalog's table handle land the same
  * content as the ConditionalMerge DataFrame builder — the full clause
  * grammar (conditions, partial SET/INSERT, star forms, BY SOURCE), the
  * graft_dv merge-on-read spelling, the command contract (eager once,
  * EXPLAIN never mutates), and the refusals. */
class SqlMergeSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private def tmp(n: String): String = {
    val p = s"${sys.props("java.io.tmpdir")}/graft_sqlmerge/$n"
    def wipe(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(wipe)
      f.delete(): Unit
    }
    wipe(new java.io.File(p))
    p
  }
  private def fsOf(p: String) =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  // table: id 1..100, grade g0/g1/g2, amt = id * 10
  private def writeTable(path: String): Unit = {
    import spark.implicits._
    (1 to 100).map(i => (i.toLong, s"g${i % 3}", i * 10.0))
      .toDF("id", "grade", "amt")
      .repartitionByRange(4, col("id"))
      .write.format("feather").mode("overwrite")
      .option("snapshots", "true").save(path)
  }
  private def srcView(name: String): Unit = {
    import spark.implicits._
    (51 to 120).map(i => (i.toLong, s"s${i % 3}", i * 100.0))
      .toDF("id", "grade", "amt").createOrReplaceTempView(name)
  }
  private def collect(path: String) =
    spark.read.format("feather").load(path).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) null else (r.getDouble(2): java.lang.Double)))
      .toSeq

  private def sqlMerge(face: String, path: String): String =
    s"""MERGE INTO $face.`$path` t
       |USING updates s
       |ON t.id = s.id
       |WHEN MATCHED AND s.id % 10 = 0 THEN DELETE
       |WHEN MATCHED AND t.amt > 700 THEN UPDATE SET grade = concat('up_', s.grade)
       |WHEN NOT MATCHED AND s.id % 2 = 1 THEN INSERT (id, grade) VALUES (s.id, 'new')
       |""".stripMargin

  // the same clauses through the DataFrame builder — the SQL spelling
  // must land byte-identical content
  private def dataFrameTwin(path: String): Unit = {
    import spark.implicits._
    val src = (51 to 120).map(i => (i.toLong, s"s${i % 3}", i * 100.0))
      .toDF("id", "grade", "amt")
    ConditionalMerge(spark, path, src, Seq("id"))
      .whenMatchedDelete(Some(col("source.id") % 10 === 0))
      .whenMatchedUpdate(Some(col("target.amt") > 700),
        set = Map("grade" -> concat(lit("up_"), col("source.grade"))))
      .whenNotMatchedInsert(Some(col("source.id") % 2 === 1),
        values = Map("id" -> col("source.id"), "grade" -> lit("new")))
      .execute(): Unit
  }

  test("MERGE INTO graft.`path` lowers the full clause grammar onto " +
       "ConditionalMerge and matches the DataFrame twin") {
    val sqlP = tmp("cow_sql"); val dfP = tmp("cow_df")
    writeTable(sqlP); writeTable(dfP)
    srcView("updates")
    spark.sql(sqlMerge("graft", sqlP) +
      "WHEN NOT MATCHED BY SOURCE AND t.id <= 5 THEN DELETE").collect()
    assert(FeatherSnapshots.resolve(fsOf(sqlP), new Path(sqlP), None)
      .get.version === 2L, "one statement, one commit")
    // DataFrame twin with the same bySource clause
    import spark.implicits._
    val src = (51 to 120).map(i => (i.toLong, s"s${i % 3}", i * 100.0))
      .toDF("id", "grade", "amt")
    ConditionalMerge(spark, dfP, src, Seq("id"))
      .whenMatchedDelete(Some(col("source.id") % 10 === 0))
      .whenMatchedUpdate(Some(col("target.amt") > 700),
        set = Map("grade" -> concat(lit("up_"), col("source.grade"))))
      .whenNotMatchedInsert(Some(col("source.id") % 2 === 1),
        values = Map("id" -> col("source.id"), "grade" -> lit("new")))
      .whenNotMatchedBySourceDelete(Some(col("target.id") <= 5))
      .execute()
    assert(collect(sqlP) === collect(dfP))
    assert(collect(sqlP).exists(_._2 == "new"), "inserts landed")
    assert(!collect(sqlP).exists(t => t._1 >= 60 && t._1 <= 100 &&
      t._1 % 10 == 0), "matched deletes landed")
  }

  test("graft_dv spelling runs merge-on-read: identical content, DV " +
       "masks instead of rewrites") {
    import spark.implicits._
    val dvP = tmp("dv_sql"); val cowP = tmp("dv_twin")
    writeTable(dvP); writeTable(cowP)
    // PARTIAL file coverage (ids 60..120): a fully-masked file drops
    // from the manifest instead of binding a DV — the masks only show
    // when some of a file's rows survive
    val src = (60 to 120).map(i => (i.toLong, s"s${i % 3}", i * 100.0))
      .toDF("id", "grade", "amt")
    src.createOrReplaceTempView("updates_dv")
    spark.sql(
      s"""MERGE INTO graft_dv.`$dvP` t USING updates_dv s ON t.id = s.id
         |WHEN MATCHED AND s.id % 10 = 0 THEN DELETE
         |WHEN MATCHED AND t.amt > 700 THEN UPDATE SET grade = concat('up_', s.grade)
         |WHEN NOT MATCHED AND s.id % 2 = 1 THEN INSERT (id, grade) VALUES (s.id, 'new')
         |""".stripMargin).collect()
    ConditionalMerge(spark, cowP, src, Seq("id"))
      .whenMatchedDelete(Some(col("source.id") % 10 === 0))
      .whenMatchedUpdate(Some(col("target.amt") > 700),
        set = Map("grade" -> concat(lit("up_"), col("source.grade"))))
      .whenNotMatchedInsert(Some(col("source.id") % 2 === 1),
        values = Map("id" -> col("source.id"), "grade" -> lit("new")))
      .execute()
    assert(collect(dvP) === collect(cowP))
    val snap = FeatherSnapshots.resolve(fsOf(dvP), new Path(dvP), None).get
    assert(snap.dvs.nonEmpty, "DV spelling must mask, not rewrite")
  }

  test("star forms: UPDATE SET * / INSERT * lower to updateAll/insertAll") {
    val path = tmp("star")
    writeTable(path)
    srcView("updates")
    spark.sql(
      s"""MERGE INTO graft.`$path` t USING updates s ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect()
    val back = collect(path)
    assert(back.size === 120)
    // every source row (51..120) now carries the source's values
    (51 to 120).foreach { i =>
      assert(back(i - 1) === ((i.toLong, s"s${i % 3}",
        (i * 100.0): java.lang.Double)))
    }
  }

  test("command contract: eager exactly once at statement issue; " +
       "re-collect never re-runs the merge; EXPLAIN never mutates") {
    val path = tmp("command")
    writeTable(path)
    srcView("updates")
    // EXPLAIN <statement> analyzes under CommandExecutionMode.SKIP
    spark.sql("EXPLAIN " + sqlMerge("graft", path)).collect()
    assert(FeatherSnapshots.resolve(fsOf(path), new Path(path), None)
      .get.version === 1L, "EXPLAIN must not mutate")
    // the statement itself executes EAGERLY (Delta parity: a ported job
    // that discards the returned frame must still mutate)
    val df = spark.sql(sqlMerge("graft", path))
    assert(FeatherSnapshots.resolve(fsOf(path), new Path(path), None)
      .get.version === 2L, "spark.sql must execute the merge eagerly")
    // re-collecting the command's frame never repeats the mutation
    df.collect(); df.collect()
    assert(FeatherSnapshots.resolve(fsOf(path), new Path(path), None)
      .get.version === 2L, "re-collect must not re-run the merge")
  }

  test("any ON condition runs through Spark's rewrite (non-equi, " +
       "non-key equality); ambiguous references and unknown targets " +
       "refuse") {
    val path = tmp("loud")
    writeTable(path)
    srcView("updates")
    // a non-key equality matches nothing here (amt = id * 100 >= 5100)
    spark.sql(
      s"""MERGE INTO graft.`$path` t USING updates s ON t.id = s.amt
         |WHEN MATCHED THEN DELETE""".stripMargin).collect()
    assert(collect(path).size === 100)
    // a non-equi ON: every target row below source id 51 matches once
    spark.sql(
      s"""MERGE INTO graft.`$path` t USING updates s
         |ON t.id < s.id AND s.id = 51
         |WHEN MATCHED THEN DELETE""".stripMargin).collect()
    assert(collect(path).map(_._1) === (51L to 100L))
    // bare `id` on both sides is ambiguous: Spark's analysis refuses
    val e3 = intercept[Exception] {
      spark.sql(
        s"""MERGE INTO graft.`$path` USING updates target ON id = id
           |WHEN MATCHED THEN DELETE""".stripMargin)
    }
    assert(e3.getMessage.contains("AMBIGUOUS_REFERENCE"), e3.getMessage)
    // a non-graft target is Spark's own resolution error
    val e4 = intercept[Exception] {
      spark.sql(
        s"""MERGE INTO some_catalog_table t USING updates s ON t.id = s.id
           |WHEN MATCHED THEN DELETE""".stripMargin)
    }
    assert(!e4.getMessage.contains("graft"),
      s"non-graft targets must pass through, got: ${e4.getMessage}")
    assert(collect(path).map(_._1) === (51L to 100L),
      "refusals change nothing")
  }

  test("key spellings resolve case-insensitively like every other " +
       "identifier in the statement (spark.sql.caseSensitive=false)") {
    val path = tmp("caseless")
    writeTable(path) // columns: id, grade, amt
    srcView("updates")
    spark.sql(
      s"""MERGE INTO graft.`$path` t USING updates s ON t.ID = s.Id
         |WHEN MATCHED AND s.ID % 10 = 0 THEN DELETE
         |WHEN MATCHED AND t.id > 90 THEN UPDATE SET GRADE = 'up'
         |WHEN NOT MATCHED AND s.id % 2 = 1 THEN
         |  INSERT (ID, Grade) VALUES (s.id, 'new')""".stripMargin)
      .collect()
    val back = collect(path)
    assert(!back.exists(t => t._1 >= 51 && t._1 % 10 == 0))
    assert(back.filter(t => t._1 > 90 && t._1 <= 100)
      .forall(_._2 == "up"), "wrong-case SET column must resolve")
    assert(back.exists(t => t._1 > 100 && t._2 == "new"),
      "wrong-case INSERT columns must resolve")
    // duplicate assignments refuse loudly instead of silently collapsing
    val eDup = intercept[Exception] {
      spark.sql(
        s"""MERGE INTO graft.`$path` t USING updates s ON t.id = s.id
           |WHEN MATCHED THEN UPDATE SET grade = 'a', grade = 'b'"""
          .stripMargin)
    }
    assert(eDup.getMessage.contains("Multiple assignments"),
      eDup.getMessage)
  }

  test("UPDATE and MERGE refuse a lossy assignment on graft and " +
       "graft_dv; lossless up-casts and explicit CASTs run") {
    Seq("graft", "graft_dv").foreach { face =>
      val path = tmp(s"lossy_$face")
      writeTable(path)
      srcView("updates")
      val before = collect(path)
      def refuse(sql: String): Unit = {
        val e = intercept[Exception] { spark.sql(sql).collect() }
        assert(e.getMessage.contains("lossless"), s"$sql → ${e.getMessage}")
      }
      // double and decimal into the BIGINT key: ANSI store assignment
      // would write 15
      refuse(s"UPDATE $face.`$path` SET id = 15.5D WHERE id = 1")
      refuse(s"UPDATE $face.`$path` SET id = 15.5 WHERE id = 1")
      refuse(s"""MERGE INTO $face.`$path` t USING updates s ON t.id = s.id
                |WHEN MATCHED THEN UPDATE SET id = s.amt""".stripMargin)
      refuse(s"""MERGE INTO $face.`$path` t USING updates s ON t.id = s.id
                |WHEN NOT MATCHED THEN INSERT (id, grade, amt)
                |VALUES (s.amt, s.grade, s.amt)""".stripMargin)
      assert(collect(path) === before, "refusals change nothing")
      assert(FeatherSnapshots.resolve(fsOf(path), new Path(path), None)
        .get.version === 1L, "refusals publish no version")
      // int into DOUBLE is lossless; an explicit CAST is the intended
      // narrowing
      spark.sql(s"UPDATE $face.`$path` SET amt = 7 WHERE id = 1").collect()
      spark.sql(
        s"""MERGE INTO $face.`$path` t USING updates s ON t.id = s.id
           |WHEN MATCHED AND s.id = 60 THEN UPDATE SET id = CAST(s.amt AS BIGINT)"""
          .stripMargin).collect()
      val after = collect(path)
      assert(after.find(_._1 == 1L).get._3 == 7.0)
      assert(after.exists(_._1 == 6000L) && !after.exists(_._1 == 60L))
    }
  }

  test("MERGE INTO works on a hive-partitioned parquet-face table " +
       "(SQL → partitioned clause routing)") {
    import spark.implicits._
    val path = tmp("part_sql")
    val df = (1 to 60).map(i => (i.toLong, i.toDouble, s"d${i % 3}"))
      .toDF("id", "amt", "day")
    graft.io.ParquetTable.write(df, path, partitionBy = Seq("day"))
    Seq((9L, 900.0, "d9"), (100L, -1.0, "d1"))
      .toDF("id", "amt", "day").createOrReplaceTempView("part_updates")
    spark.sql(
      s"""MERGE INTO graft.`$path` t USING part_updates s ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect()
    val back = graft.io.ParquetTable.read(spark, path)
    assert(back.count() === 61)
    assert(back.filter(col("id") === 9L).select("day").head()
      .getString(0) === "d9", "SQL merge must cross-partition move")
    assert(back.filter(col("id") === 100L).select("day").head()
      .getString(0) === "d1")
  }
}
