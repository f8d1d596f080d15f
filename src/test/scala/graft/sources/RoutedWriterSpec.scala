package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** The hive-layout task writer: rows arrive grouped by leaf (the writes
  * ask Spark for that order), one part per leaf run, and an input that
  * returns to a leaf gets a further part — never a reopened one. */
class RoutedWriterSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.spark
  private def tmp(n: String): String = {
    val p = s"${sys.props("java.io.tmpdir")}/graft_routed/$n"
    val root = new Path(p)
    root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(root, true)
    p
  }
  private val st = StructType(Seq(StructField("id", LongType),
    StructField("day", StringType)))
  private def factory(dir: String) = new RoutedWriterFactory(st,
    Seq("day"), dir, FaceTaskWriters.featherFactory(spark,
      StructType(Seq(StructField("id", LongType))), dir))
  private def row(id: Long, day: String) =
    InternalRow(id, if (day == null) null else UTF8String.fromString(day))

  test("one part per leaf run; a returning leaf gets a further part") {
    val dir = tmp("runs")
    val w = factory(dir).createWriter(0, 7L)
    Seq(row(1, "a"), row(2, "a"), row(3, "b"), row(4, null), row(5, "a"))
      .foreach(w.write)
    val parts = w.commit().asInstanceOf[RoutedCommitMessage].parts
    assert(parts.map(_.tmpName) === Seq(
      "day=a/.part-00000-task-7.feather.tmp",
      "day=b/.part-00000-task-7.feather.tmp",
      s"day=${FeatherPartitions.HiveNull}/.part-00000-task-7.feather.tmp",
      "day=a/.part-00000-task-7-1.feather.tmp"))
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    parts.foreach(m => assert(
      fs.getFileStatus(new Path(dir, m.tmpName)).getLen === m.bytes))
    import graft.io.FeatherStats.ColStat.Longs
    assert(parts.map(m => graft.io.FeatherStats.fromJson(m.statsJson)
      .map(_("id"))) === Seq(Seq(Longs(1, 2)), Seq(Longs(3, 3)),
        Seq(Longs(4, 4)), Seq(Longs(5, 5))))
  }

  test("abort deletes finished and open parts alike") {
    val dir = tmp("abort")
    val w = factory(dir).createWriter(3, 9L)
    Seq(row(1, "a"), row(2, "b")).foreach(w.write)
    w.abort()
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val left = Seq("day=a", "day=b").flatMap(l =>
      if (fs.exists(new Path(dir, l))) fs.listStatus(new Path(dir, l)).toSeq
      else Nil)
    assert(left.isEmpty, left.map(_.getPath).mkString(", "))
  }

  test("a row spelling the hive null marker refuses") {
    val w = factory(tmp("marker")).createWriter(0, 1L)
    val e = intercept[IllegalArgumentException] {
      w.write(row(1, FeatherPartitions.HiveNull))
    }
    assert(e.getMessage.contains("null marker"))
    w.abort()
  }
}
