package graft

import java.nio.file.Files

class TablesSpec extends SparkSpec {
  import spark.implicits._

  test("schema cache keeps one entry per path, replaced when the file is regenerated") {
    val dir = Files.createTempDirectory("graft-tables").toString
    val path = s"$dir/t.parquet"
    def regenerate(df: org.apache.spark.sql.DataFrame, mtime: Long): Unit = {
      df.write.mode("overwrite").parquet(path)
      // distinct stamps even when two writes land in the same millisecond
      assert(new java.io.File(path).setLastModified(mtime))
    }
    val entriesBefore = Tables.cachedSchemas.size
    regenerate(Seq((1L, "a")).toDF("id", "name"), 1000000000000L)
    assert(Tables.load(spark, dir, "t").columns.toSeq == Seq("id", "name"))
    regenerate(Seq((1L, 2.0)).toDF("id", "score"), 1000000001000L)
    assert(Tables.load(spark, dir, "t").columns.toSeq == Seq("id", "score"))
    regenerate(Seq(("x", 2.0, true)).toDF("key", "score", "flag"), 1000000002000L)
    val loaded = Tables.load(spark, dir, "t")
    assert(loaded.as[(String, Double, Boolean)].collect().toSeq == Seq(("x", 2.0, true)))
    // three versions of the file, one entry: the newest schema
    assert(Tables.cachedSchemas.size == entriesBefore + 1)
    assert(Tables.cachedSchemas(path).fieldNames.toSeq == Seq("key", "score", "flag"))
  }
}
