package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{ClusterStore, ClusterTable}

class ClusterStoreSpec extends SparkSpec {
  import spark.implicits._

  private def rows(pairs: (String, String, String)*) =
    pairs.toDF("PK", "SK", "description")

  test("rebuildBucketsFor repairs a bucket truncated by a crashed write") {
    val path = Files.createTempDirectory("graft-store4").toString + "/t"
    val nBuckets = 4 // few buckets => co-located clusters guaranteed
    val store = new ClusterStore(spark, path, nBuckets)
    val truth = rows((0 until 20).map(i => (s"c$i", "M", s"v$i")): _*)
    store.rebuildBucketsFor(truth, truth)

    // simulate a crash mid-write: one bucket directory is truncated,
    // losing every cluster that lived there
    val bucketOfC7 = spark.range(1)
      .select(pmod(xxhash64(lit("c7")), lit(nBuckets.toLong))).as[Long].head()
    val dir = new org.apache.hadoop.fs.Path(s"$path/bucket=$bucketOfC7")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(dir, true)
    assert(store.read().count() < 20)

    // replaying the batch that touched c7 rebuilds the WHOLE bucket from
    // truth — co-bucketed clusters come back too
    store.rebuildBucketsFor(truth, truth.filter(col("PK") === "c7"))
    val got = store.read().select("PK", "description")
      .as[(String, String)].collect().toMap
    assert(got == (0 until 20).map(i => s"c$i" -> s"v$i").toMap)
  }

  test("rebuildBucketsFor leaves untouched buckets' files alone") {
    val path = Files.createTempDirectory("graft-store5").toString + "/t"
    val store = new ClusterStore(spark, path, nBuckets = 16)
    val truth = rows((0 until 50).map(i => (s"c$i", "M", "seed")): _*)
    store.rebuildBucketsFor(truth, truth)
    val before = store.filesByBucket()

    val truth2 = truth.withColumn("description",
      when(col("PK") === "c7", "updated").otherwise(col("description")))
    store.rebuildBucketsFor(truth2, truth2.filter(col("PK") === "c7"))
    val after = store.filesByBucket()

    val touchedBucket = spark.range(1)
      .select(pmod(xxhash64(lit("c7")), lit(16L))).as[Long].head()
    (before.keySet - touchedBucket).foreach { b =>
      assert(after(b) == before(b), s"bucket $b was rewritten")
    }
    assert(store.read().filter(col("PK") === "c7").head().getString(2) == "updated")
  }

  test("rebuildBucketsFor leaves the session's partitionOverwriteMode unchanged") {
    val key = "spark.sql.sources.partitionOverwriteMode"
    // getOption answers the default for an unset key; getAll holds only
    // the keys the session set
    def conf = (spark.conf.getOption(key), spark.conf.getAll.get(key))
    val before = spark.conf.getAll.get(key)
    try {
      for (preset <- Seq(None, Some("static"))) {
        preset.fold(spark.conf.unset(key))(spark.conf.set(key, _))
        val seen = conf
        assert(seen._2 == preset)
        val path = Files.createTempDirectory("graft-store-conf").toString + "/t"
        val store = new ClusterStore(spark, path, nBuckets = 16)
        val truth = rows((0 until 20).map(i => (s"c$i", "M", "seed")): _*)
        store.rebuildBucketsFor(truth, truth)
        val truth1 = truth.withColumn("description",
          when(col("PK") === "c7", "updated").otherwise(col("description")))
        store.rebuildBucketsFor(truth1, truth1.filter(col("PK") === "c7"))
        assert(conf == seen, s"after the first overwrite, preset $preset")
        val truth2 = truth1.withColumn("description",
          when(col("PK") === "c3", "rebuilt").otherwise(col("description")))
        store.rebuildBucketsFor(truth2, truth2.filter(col("PK") === "c3"))
        assert(conf == seen, s"after the second overwrite, preset $preset")
        // both overwrites stayed dynamic under a static session: the
        // buckets neither write touched kept their rows
        val got = store.read().select("PK", "description").as[(String, String)].collect().toMap
        assert(got == truth2.select("PK", "description").as[(String, String)].collect().toMap)
      }
    } finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("bucket-pruned point read returns one cluster's rows") {
    val path = Files.createTempDirectory("graft-store3").toString + "/t"
    val store = new ClusterStore(spark, path, nBuckets = 8)
    val truth = rows(("c1", "M", "m"), ("c1", "A#1", "a"), ("c2", "M", "x"))
    store.rebuildBucketsFor(truth, truth)
    val got = store.cluster("c1").select("SK").as[String].collect().toSet
    assert(got == Set("M", "A#1"))
  }

  /** The lookup `cluster` replaced: the whole store read (listing every
    * bucket directory and inferring the schema), then bucket and PK
    * filters. */
  private def fullScanLookup(path: String, nBuckets: Int, pk: String): DataFrame =
    spark.read.parquet(path)
      .filter(col("bucket") === pmod(xxhash64(lit(pk)), lit(nBuckets.toLong)) && col("PK") === pk)
      .drop("bucket")

  private def columns(df: DataFrame) = df.schema.map(f => (f.name, f.dataType))

  private def assertSameRows(got: DataFrame, want: DataFrame): Unit = {
    assert(columns(got) == columns(want))
    def sorted(df: DataFrame) = df.collect().map(_.toSeq.mkString("|")).sorted.toSeq
    assert(sorted(got) == sorted(want))
  }

  /** A key absent from the store that `pick` accepts by its bucket. */
  private def absentKey(store: ClusterStore)(pick: Long => Boolean): String =
    Iterator.from(0).map(i => s"absent$i").find(k => pick(store.bucketIdOf(k))).get

  test("a point lookup on a 64-bucket store is one Spark job") {
    val path = Files.createTempDirectory("graft-store-jobs").toString + "/t"
    val store = new ClusterStore(spark, path)
    val truth = rows((0 until 400).flatMap(i => Seq((s"c$i", "M", "m"), (s"c$i", "A#1", "a"))): _*)
    store.rebuildBucketsFor(truth, truth)
    assert(store.filesByBucket().size == 64)
    var got = Array.empty[org.apache.spark.sql.Row]
    val jobs = jobsOf { got = store.cluster("c7").collect() }
    info(s"cluster + collect: $jobs job(s); whole-store read: " +
      s"${jobsOf(fullScanLookup(path, 64, "c7").collect())}")
    assert(jobs == 1)
    assert(got.map(_.getAs[String]("SK")).toSet == Set("M", "A#1"))
  }

  test("point lookups return the rows of the whole-store read") {
    val path = Files.createTempDirectory("graft-store-lookup").toString + "/t"
    val nBuckets = 8
    val store = new ClusterStore(spark, path, nBuckets)
    val missing = new ClusterStore(spark, path + "-missing", nBuckets)
    assert(columns(missing.cluster("c1")) == columns(ClusterTable.emptyTable(spark)))
    assert(missing.cluster("c1").isEmpty)

    // three clusters leave at least five of the eight buckets without a directory
    val truth = rows(("c1", "M", "m1"), ("c1", "A#1", "a1"), ("c2", "M", "m2"), ("c3", "M", "m3"))
    store.rebuildBucketsFor(truth, truth)
    val present = store.filesByBucket().keySet
    val missInBucket = absentKey(store)(present.contains)
    val noDirectory = absentKey(store)(b => !present.contains(b))
    for (pk <- Seq("c1", "c2", missInBucket, noDirectory))
      assertSameRows(store.cluster(pk), fullScanLookup(path, nBuckets, pk))
    assert(store.cluster("c1").count() == 2)
    assert(store.cluster(missInBucket).isEmpty && store.cluster(noDirectory).isEmpty)

    val truth2 = truth.withColumn("description",
      when(col("PK") === "c1", "updated").otherwise(col("description")))
    store.rebuildBucketsFor(truth2, truth2.filter(col("PK") === "c1"))
    assertSameRows(store.cluster("c1"), fullScanLookup(path, nBuckets, "c1"))
    assert(store.cluster("c1").select("description").as[String].collect().toSet == Set("updated"))
  }

  test("bucketIdOf agrees with the bucketOf column") {
    val keys = Seq("", " ", "c1", "é", "日本語のキー", "ключ", "emoji 😀", "a\u0000b", "x" * 200) ++
      (0 until 1000).map(i => s"k$i-${"ü" * (i % 5)}")
    for (n <- Seq(64, 7)) {
      val store = new ClusterStore(spark, "unused", n)
      val byColumn = keys.toDF("k").select(col("k"), store.bucketOf(col("k")))
        .as[(String, Long)].collect().toMap
      assert(byColumn.size == keys.size)
      keys.foreach(k => assert(store.bucketIdOf(k) == byColumn(k), s"key '$k', $n buckets"))
      Seq("", "é", "c1").foreach { k =>
        assert(store.bucketIdOf(k) ==
          spark.range(1).select(store.bucketOf(lit(k))).as[Long].head())
      }
    }
  }
}
