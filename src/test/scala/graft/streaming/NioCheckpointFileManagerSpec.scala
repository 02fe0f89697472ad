package graft.streaming

import graft.SparkSpec
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path, PathFilter}
import java.nio.file.Files

/** The NIO checkpoint manager must carry the exact CheckpointFileManager
  * contract the streaming WAL relies on: atomic visibility on close, the
  * no-overwrite commit-race signal, cancel cleanliness, and list/open
  * round-trips — plus end-to-end equality of a streaming query's output
  * under this manager vs Spark's default.
  */
class NioCheckpointFileManagerSpec extends SparkSpec {

  private def mgr(root: java.nio.file.Path) =
    new NioCheckpointFileManager(new Path(root.toString), new Configuration(false))

  test("createAtomic: invisible until close, byte-exact after, temp gone") {
    val root = tmpDir("nio-cfm")
    val m = mgr(root)
    val dst = new Path(root.toString, "offsets/0")
    val out = m.createAtomic(dst, overwriteIfPossible = false)
    out.write("v1\n{\"batchWatermarkMs\":0}".getBytes("UTF-8"))
    assert(!m.exists(dst), "destination must not exist before close")
    out.close()
    assert(m.exists(dst))
    val in = m.open(dst)
    val buf = new Array[Byte](64)
    val n = in.read(buf); in.close()
    assert(new String(buf, 0, n, "UTF-8") === "v1\n{\"batchWatermarkMs\":0}")
    // no temp litter in the directory
    val names = m.list(new Path(root.toString, "offsets")).map(_.getPath.getName)
    assert(names.toSeq === Seq("0"))
  }

  test("no-overwrite close throws FileAlreadyExists; overwrite close wins") {
    val root = tmpDir("nio-cfm")
    val m = mgr(root)
    val dst = new Path(root.toString, "commits/7")
    val a = m.createAtomic(dst, overwriteIfPossible = false)
    a.write("first".getBytes); a.close()
    val b = m.createAtomic(dst, overwriteIfPossible = false)
    b.write("second".getBytes)
    intercept[FileAlreadyExistsException](b.close())
    // loser's temp cleaned up; winner's content intact
    assert(m.list(new Path(root.toString, "commits")).length === 1)
    val in = m.open(dst); val buf = new Array[Byte](16)
    val n = in.read(buf); in.close()
    assert(new String(buf, 0, n) === "first")
    val c = m.createAtomic(dst, overwriteIfPossible = true)
    c.write("third".getBytes); c.close()
    val in2 = m.open(dst); val n2 = in2.read(buf); in2.close()
    assert(new String(buf, 0, n2) === "third")
  }

  test("cancel deletes the temp and never publishes") {
    val root = tmpDir("nio-cfm")
    val m = mgr(root)
    m.mkdirs(new Path(root.toString, "state"))
    val dst = new Path(root.toString, "state/1.delta")
    val out = m.createAtomic(dst, overwriteIfPossible = true)
    out.write("partial".getBytes)
    out.cancel()
    assert(!m.exists(dst))
    assert(m.list(new Path(root.toString, "state")).isEmpty)
  }

  test("list filters, positioned reads, recursive delete") {
    val root = tmpDir("nio-cfm")
    val m = mgr(root)
    Seq("0", "1", ".1.tmp").foreach { n =>
      val o = m.createAtomic(new Path(root.toString, s"log/$n"), true)
      o.write(("payload-" + n).getBytes); o.close()
    }
    val visible = m.list(new Path(root.toString, "log"),
      new PathFilter { def accept(p: Path): Boolean = !p.getName.startsWith(".") })
    assert(visible.map(_.getPath.getName).sorted.toSeq === Seq("0", "1"))
    assert(visible.forall(_.getLen === 9))
    val in = m.open(new Path(root.toString, "log/1"))
    val b = new Array[Byte](1)
    in.readFully(8L, b) // positioned read: last byte without seeking
    assert(b(0).toChar === '1')
    in.seek(0); assert(in.getPos === 0)
    in.close()
    m.delete(new Path(root.toString, "log"))
    assert(!m.exists(new Path(root.toString, "log")))
    m.delete(new Path(root.toString, "log")) // idempotent on missing
  }

  test("open of a missing file throws java.io.FileNotFoundException") {
    val root = tmpDir("nio-cfm")
    intercept[java.io.FileNotFoundException](mgr(root).open(new Path(root.toString, "state/0/1.snapshot")))
  }

  test("racing no-overwrite publishes: exactly one writer wins each destination") {
    val root = tmpDir("nio-cfm")
    val m = mgr(root)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try (0 until 20).foreach { round =>
      val dst = new Path(root.toString, s"commits/$round")
      val streams = (0 until 8).map { w =>
        val o = m.createAtomic(dst, overwriteIfPossible = false)
        o.write(s"writer-$w".getBytes); o
      }
      val start = new java.util.concurrent.CountDownLatch(1)
      val results = streams.map { o =>
        pool.submit(new java.util.concurrent.Callable[Boolean] {
          def call(): Boolean = {
            start.await()
            try { o.close(); true } catch { case _: FileAlreadyExistsException => false }
          }
        })
      }
      start.countDown()
      assert(results.count(_.get()) == 1, s"round $round")
    } finally pool.shutdown()
    // no loser left a temp file behind
    assert(m.list(new Path(root.toString, "commits")).length == 20)
  }

  test("concurrent deletes of one tree all succeed (vanishing entries are ignored)") {
    val root = tmpDir("nio-cfm")
    val m = mgr(root)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try (0 until 10).foreach { round =>
      val tree = new Path(root.toString, s"state-$round")
      for (d <- 0 until 10; f <- 0 until 10) {
        val o = m.createAtomic(new Path(tree, s"$d/$f.delta"), overwriteIfPossible = true)
        o.write(Array[Byte](1)); o.close()
      }
      val start = new java.util.concurrent.CountDownLatch(1)
      val deletes = (0 until 4).map { _ =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = { start.await(); m.delete(tree) }
        })
      }
      start.countDown()
      deletes.foreach(_.get()) // rethrows a delete's failure
      assert(!m.exists(tree))
    } finally pool.shutdown()
  }

  test("streaming aggregation under the NIO manager equals the default manager") {
    import org.apache.spark.sql.functions._
    val src = tmpDir("nio-src")
    spark.range(0, 100).selectExpr("id % 7 AS k", "id AS v")
      .repartition(1).write.mode("overwrite").parquet(src.toString)
    def run(useNio: Boolean): Seq[(Long, Long)] = {
      val key = "spark.sql.streaming.checkpointFileManagerClass"
      val prev = spark.conf.getOption(key)
      if (useNio) spark.conf.set(key, classOf[NioCheckpointFileManager].getName)
      else spark.conf.unset(key)
      try {
        val ck = tmpDir(s"nio-ck-$useNio")
        val stream = spark.readStream
          .schema("k LONG, v LONG").parquet(src.toString)
          .groupBy(col("k")).agg(sum(col("v")).as("s"))
        val name = s"nio_cfm_sink_${useNio}_${System.nanoTime()}"
        val q = stream.writeStream.format("memory").queryName(name)
          .outputMode("complete")
          .option("checkpointLocation", ck.toString)
          .start()
        q.processAllAvailable(); q.stop()
        // under the NIO manager the checkpoint must actually carry state
        if (useNio)
          assert(Files.exists(ck.resolve("offsets/0")), "NIO WAL not written")
        spark.table(name).collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
      } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    }
    assert(run(useNio = true) === run(useNio = false))
  }

  test("stateful restart: mapGroupsWithState recovers its state from the checkpoint") {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import scala.jdk.CollectionConverters._
    import spark.implicits._
    val key = "spark.sql.streaming.checkpointFileManagerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, classOf[NioCheckpointFileManager].getName)
    try {
      val src = tmpDir("nio-restart-src")
      val ck = tmpDir("nio-restart-ck")
      def add(rows: (Long, Long)*): Unit =
        rows.toDF("k", "v").coalesce(1).write.mode("append").parquet(src.toString)
      // one run of the query from the shared checkpoint: a fresh query run
      // gets fresh state-store providers, so it must load the state of the
      // previous run from the checkpoint (snapshot probe, then delta replay)
      def run(): Map[Long, Long] = {
        val totals = spark.readStream.schema("k LONG, v LONG").parquet(src.toString)
          .as[(Long, Long)]
          .groupByKey(_._1)
          .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
            (k: Long, rows: Iterator[(Long, Long)], state: GroupState[Long]) =>
              val total = state.getOption.getOrElse(0L) + rows.map(_._2).sum
              state.update(total)
              (k, total)
          }
        val out = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
        val q = totals.writeStream
          .outputMode(OutputMode.Update)
          .option("checkpointLocation", ck.toString)
          .foreachBatch { (batch: org.apache.spark.sql.Dataset[(Long, Long)], _: Long) =>
            batch.collect().foreach { case (k, total) => out.put(k, total) }
          }
          .start()
        try q.processAllAvailable() finally q.stop()
        out.asScala.toMap
      }
      add(1L -> 10L, 2L -> 20L)
      assert(run() == Map(1L -> 10L, 2L -> 20L))
      add(1L -> 5L)
      assert(run() == Map(1L -> 15L), "the restarted query lost key 1's running total")
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }
}
