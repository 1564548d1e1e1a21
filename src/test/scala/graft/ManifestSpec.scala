package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The bucketed snapshot's read path ([[io.Manifest.readBuckets]]):
  * one scan per snapshot, bucket ids restored from the file paths,
  * and only manifest-named directories read — whatever mix of
  * version directories the manifest points into.
  */
class ManifestSpec extends SparkSpec {
  import spark.implicits._

  private def events(users: Seq[Long], idBase: Long, v: Double): DataFrame =
    users.map(u => (idBase + u, ts("2024-01-01 10:00:00"), u, "click", v))
      .toDF("event_id", "ts", "user_id", "event_type", "value")

  private def upsert(snap: String, batch: DataFrame, batchId: Long, nBuckets: Int): Unit =
    ops.Streaming.upsertBatchInto(snap,
      batch.withColumn("bucket", ops.Streaming.upsertBucket(nBuckets)),
      batchId, ops.Streaming.upsertLatest)

  /** Spark jobs started by `body`. A marker job submitted after it
    * drains the listener bus: job starts arrive in submission order.
    */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val started = new java.util.concurrent.atomic.AtomicInteger()
    val markerSeen = new java.util.concurrent.CountDownLatch(1)
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("graft.spec.marker") != null))
          markerSeen.countDown()
        else started.incrementAndGet()
    }
    sc.addSparkListener(l)
    try {
      body
      sc.setLocalProperty("graft.spec.marker", "1")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty("graft.spec.marker", null)
      assert(markerSeen.await(30, java.util.concurrent.TimeUnit.SECONDS))
      started.get()
    } finally sc.removeSparkListener(l)
  }

  test("job-count guard: snapshot read and merge-path upsert cost the same jobs at 4 and 16 buckets") {
    def jobs(nBuckets: Int): (Int, Int) = {
      val snap = java.nio.file.Files.createTempDirectory(s"mjobs$nBuckets").toString + "/snapshot"
      val users = (1L to 200L).toSeq
      upsert(snap, events(users, 0L, 1.0), 0L, nBuckets)
      // every bucket is committed and touched again: the merge path
      val upsertJobs = jobsOf(upsert(snap, events(users, 1000L, 2.0), 1L, nBuckets))
      val readJobs = jobsOf {
        val r = io.Manifest.readSnapshot(spark, snap).groupBy("event_type").count().collect()
        assert(r.map(_.getLong(1)).sum === 200L)
      }
      (readJobs, upsertJobs)
    }
    val (read4, upsert4) = jobs(4)
    val (read16, upsert16) = jobs(16)
    assert(read16 === read4, s"readSnapshot jobs grew with buckets: $read4 at 4, $read16 at 16")
    assert(upsert16 === upsert4, s"upsert jobs grew with buckets: $upsert4 at 4, $upsert16 at 16")
  }

  test("bucket ids come from the path across v-1, v{N} and v{N}r{k} dirs; only manifest dirs are read") {
    val n = 8
    val snap = java.nio.file.Files.createTempDirectory("mmixed").toString + "/snapshot"
    val root = new Path(snap)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val users = (1L to 40L).toSeq
    val bucketOf = events(users, 0L, 0.0).select(col("user_id"), ops.Streaming.upsertBucket(n))
      .as[(Long, Int)].collect().toMap
    def usersIn(bs: Set[Int]) = users.filter(u => bs(bucketOf(u)))
    // the v-1 seed dir, exactly as ClusterMaintenance.bootstrap stages it
    upsert(snap, events(users, 0L, 1.0), -1L, n)
    // batch 0 rewrites buckets 0-2 into v0; batch 1 rewrites 3-4 into
    // v1, and its replay (v1 is live) into v1r1
    upsert(snap, events(usersIn(Set(0, 1, 2)), 100L, 2.0), 0L, n)
    upsert(snap, events(usersIn(Set(3, 4)), 200L, 3.0), 1L, n)
    upsert(snap, events(usersIn(Set(3, 4)), 200L, 3.0), 1L, n)
    val manifest = io.Manifest.read(fs, root)
    assert(manifest.values.map(_.split("/", 2)(0)).toSet === Set("v-1", "v0", "v1r1"),
      s"fixture must mix seed, batch and replay dirs: $manifest")
    // a decoy dir the manifest never names, holding a wrong row
    events(Seq(1L), 900L, 9.0).write.parquet(s"$snap/v7/bucket=${bucketOf(1L)}")
    assert(fs.exists(new Path(snap, "v1")), "the superseded v1 stays for the retention window")

    val snapDf = io.Manifest.readSnapshot(spark, snap)
    val liveDirs = manifest.values.map(rel => new Path(root, rel).toUri.getPath).toSet
    snapDf.inputFiles.foreach { f =>
      assert(liveDirs(new Path(f).getParent.toUri.getPath), s"read a file outside the manifest: $f")
    }
    val rows = snapDf.select(col("user_id"), col("event_id"), col("bucket"),
      ops.Streaming.upsertBucket(n).as("expected"))
      .as[(Long, Long, Int, Int)].collect()
    assert(rows.length === users.size)
    rows.foreach { case (u, _, b, e) => assert(b === e, s"user $u restored to bucket $b, key hashes to $e") }
    val latest = rows.map(r => r._1 -> r._2).toMap
    users.foreach { u =>
      val want = bucketOf(u) match { case b if b <= 2 => 100L + u; case 3 | 4 => 200L + u; case _ => u }
      assert(latest(u) === want, s"user $u")
    }
    // the same rows as the per-bucket reads the manifest names
    val perBucket = manifest.toSeq.map { case (b, rel) =>
      spark.read.parquet(new Path(root, rel).toString).withColumn("bucket", lit(b))
    }.reduce(_.unionByName(_))
    assert(snapDf.collect().map(_.toSeq).toSet === perBucket.collect().map(_.toSeq).toSet)
  }
}
