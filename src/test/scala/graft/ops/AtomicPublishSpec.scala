package graft.ops

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSuite

class AtomicPublishSpec extends SparkSuite {
  import spark.implicits._

  private def freshRoot(): String =
    Files.createTempDirectory("publish").resolve("tables").toString

  test("publish + read roundtrip across multiple tables") {
    val root = freshRoot()
    val txn = AtomicPublish.publish(spark, root, Map(
      "patients" -> Seq((1L, "a"), (2L, "b")).toDF("id", "name"),
      "consents" -> Seq((1L, true)).toDF("patient_id", "granted")))
    assert(AtomicPublish.currentTxn(spark, root).contains(txn))
    assert(AtomicPublish.readTable(spark, root, "patients").count() == 2)
    assert(AtomicPublish.readTable(spark, root, "consents").count() == 1)
  }

  test("crash between table writes leaves the published version unchanged") {
    // `rows(n)` writes ids 0..n-1 and fails mid-write (raise_error fires
    // per row during the parquet write) once n > 5
    def rows(n: Long) = spark.range(n).select(
      when(col("id") < 5, col("id"))
        .otherwise(raise_error(lit("disk on fire"))).as("id"))
    def leftovers(root: String): Seq[String] =
      Option(new java.io.File(root).list()).toSeq.flatten.filter(n =>
        n.startsWith(".staging_") || n.startsWith("._current_"))
    // every entry point that stages data: (name, the call failing
    // mid-write, the same call without the failing input); each runs
    // against its own store holding v1 = {patients, consents}
    val cases: Seq[(String, String => (() => Any, () => Any))] = Seq(
      "publish" -> { root =>
        def call(n: Long) = () => AtomicPublish.publish(spark, root, Map(
          "patients" -> Seq((9L, "z")).toDF("id", "name"),
          "consents" -> rows(n)))
        (call(10), call(5))
      },
      "publishDelta" -> { root =>
        def call(n: Long) = () => AtomicPublish.publishDelta(spark, root,
          append = Map("consents" -> rows(n)),
          parent = AtomicPublish.currentTxn(spark, root)).get
        (call(10), call(5))
      },
      // no stats: every owner is admitted, so the rewrite is a
      // replaceOwners commit staging the table and its change set
      "overwriteWhere" -> { root =>
        def call(n: Long) = () => AtomicPublish.overwriteWhere(spark, root,
          "consents", rows(n), "id >= 0")
        (call(10), call(5))
      },
      // a restore stages only rows it reads back from the store, so its
      // failing input is a damaged segment file of the live version
      "restoreTable(stageCdf)" -> { root =>
        val v1 = AtomicPublish.currentTxn(spark, root).get
        val v2 = AtomicPublish.publishDelta(spark, root,
          append = Map("consents" -> rows(2)), parent = Some(v1)).get
        val seg = new java.io.File(root, s"v_$v2/consents").listFiles()
          .filter(_.getName.endsWith(".parquet"))
        val original = seg.map(f => java.nio.file.Files.readAllBytes(f.toPath))
        def call() = AtomicPublish.restoreTable(spark, root, "consents", v1,
          stageCdf = true).get
        (() => {
          seg.zip(original).foreach { case (f, b) =>
            java.nio.file.Files.write(f.toPath, new Array[Byte](b.length)) }
          call()
        }, () => {
          seg.zip(original).foreach { case (f, b) =>
            java.nio.file.Files.write(f.toPath, b) }
          call()
        })
      })
    cases.foreach { case (name, mk) =>
      val root = freshRoot()
      AtomicPublish.publish(spark, root, Map(
        "patients" -> Seq((1L, "a")).toDF("id", "name"),
        "consents" -> rows(3)))
      val (fail, ok) = mk(root)
      val before = AtomicPublish.currentTxn(spark, root)
      intercept[Exception](fail())
      // the transaction observable: pointer and data intact, and the
      // shared abort path left no scratch dir or tmp pointer behind
      assert(AtomicPublish.currentTxn(spark, root) == before, name)
      assert(leftovers(root).isEmpty, s"$name: ${leftovers(root)}")
      assert(AtomicPublish.readTable(spark, root, "patients")
        .as[(Long, String)].collect().toSet == Set((1L, "a")), name)
      ok()
      assert(AtomicPublish.currentTxn(spark, root) != before, name)
      assert(leftovers(root).isEmpty, s"$name: ${leftovers(root)}")
    }
  }

  test("a manifest without a schema record is refused by name") {
    val root = freshRoot()
    val v1 = AtomicPublish.publish(spark, root,
      Map("t" -> Seq(1L).toDF("id")))
    ManifestRewrite(root)(_.linesIterator
      .filterNot(_.startsWith("#schema:")).mkString("\n"))
    val e = intercept[IllegalStateException](
      AtomicPublish.readTable(spark, root, "t"))
    assert(e.getMessage.contains(v1) && e.getMessage.contains("'t'"),
      e.getMessage)
  }

  test("no torn state before the first publish: failure leaves root unreadable") {
    val root = freshRoot()
    val boom = spark.range(2)
      .select(raise_error(lit("nope")).as("id"))
    intercept[Exception] {
      AtomicPublish.publish(spark, root, Map("t" -> boom))
    }
    assert(AtomicPublish.currentTxn(spark, root).isEmpty)
    intercept[IllegalStateException] {
      AtomicPublish.readTable(spark, root, "t")
    }
  }

  test("republish swaps all tables at once; vacuum reclaims only dead versions") {
    val root = freshRoot()
    val v1 = AtomicPublish.publish(spark, root, Map(
      "patients" -> Seq((1L, "a")).toDF("id", "name")))
    val v2 = AtomicPublish.publish(spark, root, Map(
      "patients" -> Seq((1L, "a"), (2L, "b")).toDF("id", "name")))
    assert(AtomicPublish.currentTxn(spark, root).contains(v2))
    assert(AtomicPublish.readTable(spark, root, "patients").count() == 2)
    // time travel: the superseded version stays readable until vacuum
    assert(AtomicPublish.readTableAt(spark, root, "patients", v1).count() == 1)
    val deleted = AtomicPublish.vacuum(spark, root)
    assert(deleted.exists(_.contains(s"v_$v1")) &&
      !deleted.exists(_.contains(s"v_$v2")))
    // current version untouched by vacuum
    assert(AtomicPublish.readTable(spark, root, "patients").count() == 2)
    intercept[Exception] {
      AtomicPublish.readTableAt(spark, root, "patients", v1).collect()
    }
  }

  test("vacuum retention: keepLast spares pinned time-travel readers, minAge spares the young") {
    val root = freshRoot()
    val v1 = AtomicPublish.publish(spark, root,
      Map("t" -> Seq(1L).toDF("id")))
    Thread.sleep(30) // distinct dir mtimes on the local fs
    val v2 = AtomicPublish.publish(spark, root,
      Map("t" -> Seq(1L, 2L).toDF("id")))
    Thread.sleep(30)
    val v3 = AtomicPublish.publish(spark, root,
      Map("t" -> Seq(1L, 2L, 3L).toDF("id")))
    // a reader pinned at v2 survives a vacuum retaining 2 versions
    val d1 = AtomicPublish.vacuum(spark, root, keepLast = 2)
    assert(d1.exists(_.contains(s"v_$v1")) && !d1.exists(_.contains(s"v_$v2")))
    assert(AtomicPublish.readTableAt(spark, root, "t", v2).count() == 2)
    // minAge spares versions younger than the cutoff even past keepLast
    val d2 = AtomicPublish.vacuum(spark, root, keepLast = 1,
      minAgeMs = 3600L * 1000)
    assert(d2.isEmpty, d2.mkString(","))
    assert(AtomicPublish.readTableAt(spark, root, "t", v2).count() == 2)
    // default policy reclaims everything but the live version
    val d3 = AtomicPublish.vacuum(spark, root)
    assert(d3.exists(_.contains(s"v_$v2")) && !d3.exists(_.contains(s"v_$v3")))
    assert(AtomicPublish.readTable(spark, root, "t").count() == 3)
    intercept[IllegalArgumentException] {
      AtomicPublish.vacuum(spark, root, keepLast = 0)
    }
  }

  test("vacuum spares a sealed-but-uncommitted version until the grace window ends") {
    // a cross-process publisher between seal (v_ dir exists) and commit
    // (pointer swap) is invisible to this JVM's in-flight registry; its
    // marker-less dir must survive any vacuum younger than graceMs —
    // deleting it would brick that publish at pointer-swap time
    val root = freshRoot()
    val v1 = AtomicPublish.publish(spark, root, Map("t" -> Seq(1L).toDF("id")))
    val v2 = AtomicPublish.publish(spark, root,
      Map("t" -> Seq(1L, 2L).toDF("id")))
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val orphan = new org.apache.hadoop.fs.Path(root, "v_deadbeef")
    fs.mkdirs(new org.apache.hadoop.fs.Path(orphan, "t"))
    val d1 = AtomicPublish.vacuum(spark, root) // default grace: 1 h
    assert(!d1.exists(_.contains("v_deadbeef")), "mid-publish dir deleted")
    assert(d1.exists(_.contains(s"v_$v1")),
      "committed versions follow the user policy regardless of grace")
    assert(AtomicPublish.currentTxn(spark, root).contains(v2))
    // once aged past the grace (0 here: single-process deployment), the
    // crashed publisher's leftovers are reclaimable
    val d2 = AtomicPublish.vacuum(spark, root, graceMs = 0L)
    assert(d2.exists(_.contains("v_deadbeef")))
  }

  test("an uncommitted orphan cannot displace a committed version from keepLast") {
    // retention ranks by _COMMITTED marker mtime (commit order); a
    // sealed-never-committed dir has no marker, so it neither claims a
    // keepLast slot (which would silently evict a version a pinned
    // reader relies on) nor survives as if published
    val root = freshRoot()
    val v1 = AtomicPublish.publish(spark, root, Map("t" -> Seq(1L).toDF("id")))
    Thread.sleep(30)
    val v2 = AtomicPublish.publish(spark, root,
      Map("t" -> Seq(1L, 2L).toDF("id")))
    Thread.sleep(30)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(root, "v_deadbeef/t")) // newest mtime
    val d = AtomicPublish.vacuum(spark, root, keepLast = 2, graceMs = 0L)
    assert(d.exists(_.contains("v_deadbeef")) &&
      !d.exists(_.contains(s"v_$v1")) && !d.exists(_.contains(s"v_$v2")))
    // the pinned reader keepLast=2 promised is still served
    assert(AtomicPublish.readTableAt(spark, root, "t", v1).count() == 1)
  }

  test("publishDelta appends by reference: slice written, history carried, time travel exact") {
    val root = freshRoot()
    val v1 = AtomicPublish.publish(spark, root, Map(
      "a" -> Seq(1L, 2L).toDF("id"), "b" -> Seq(10L).toDF("id")))
    val v2 = AtomicPublish.publishDelta(spark, root,
      append = Map("a" -> Seq(3L).toDF("id")), parent = Some(v1)).get
    // the union read: history + slice; the carried table untouched
    assert(AtomicPublish.readTable(spark, root, "a")
      .as[Long].collect().toSet == Set(1L, 2L, 3L))
    assert(AtomicPublish.readTable(spark, root, "b")
      .as[Long].collect().toSet == Set(10L))
    // ...and v2's dir holds ONLY the slice (history referenced, not copied)
    assert(spark.read.parquet(s"$root/v_$v2/a").count() == 1)
    assert(AtomicPublish.manifestOf(spark, root, v2)("a") == Seq(v1, v2))
    // time travel to the parent is unaffected by the append
    assert(AtomicPublish.readTableAt(spark, root, "a", v1)
      .as[Long].collect().toSet == Set(1L, 2L))

    // replace consolidates ownership (the compaction move): one owner,
    // and the old slice dirs become reclaimable once unreferenced
    val v3 = AtomicPublish.publishDelta(spark, root, append = Map.empty,
      replace = Map("a" -> AtomicPublish.readTable(spark, root, "a")),
      parent = Some(v2)).get
    assert(AtomicPublish.manifestOf(spark, root, v3)("a") == Seq(v3))
    // b is still carried from v1, so v1 survives this vacuum; v2 is
    // only the superseded a-slice → reclaimed
    val deleted = AtomicPublish.vacuum(spark, root, keepLast = 1, graceMs = 0L)
    assert(deleted.exists(_.contains(s"v_$v2")) &&
      !deleted.exists(_.contains(s"v_$v1")), deleted.mkString(","))
    assert(AtomicPublish.readTable(spark, root, "a")
      .as[Long].collect().toSet == Set(1L, 2L, 3L))
    assert(AtomicPublish.readTable(spark, root, "b").count() == 1)
  }

  test("publishDelta is a CAS: a stale parent loses, the store is unchanged") {
    val root = freshRoot()
    val v1 = AtomicPublish.publish(spark, root, Map("t" -> Seq(1L).toDF("id")))
    val v2 = AtomicPublish.publishDelta(spark, root,
      append = Map("t" -> Seq(2L).toDF("id")), parent = Some(v1)).get
    // a committer that pinned v1 before v2 landed must NOT win
    val stale = AtomicPublish.publishDelta(spark, root,
      append = Map("t" -> Seq(99L).toDF("id")), parent = Some(v1))
    assert(stale.isEmpty)
    assert(AtomicPublish.currentTxn(spark, root).contains(v2))
    assert(AtomicPublish.readTable(spark, root, "t")
      .as[Long].collect().toSet == Set(1L, 2L))
    // the loser's sealed dir is grace-protected garbage, not a torn read
    val d = AtomicPublish.vacuum(spark, root, graceMs = 0L)
    assert(AtomicPublish.readTable(spark, root, "t").count() == 2, d)
  }

  test("a minAge-spared version keeps the dirs it references (closure seeds from ALL survivors)") {
    // regression: the closure was seeded only from live ∪ keepLast-
    // retained, so a version spared by minAge kept its own dir but lost
    // the older segment dirs its manifest unions over — time travel to
    // it then threw mid-read
    val root = freshRoot()
    val v0 = AtomicPublish.publish(spark, root, Map("t" -> Seq(0L).toDF("id")))
    val v1 = AtomicPublish.publishDelta(spark, root,
      append = Map("t" -> Seq(1L).toDF("id")), parent = Some(v0)).get
    val v2 = AtomicPublish.publishDelta(spark, root, append = Map.empty,
      replace = Map("t" -> AtomicPublish.readTable(spark, root, "t")),
      parent = Some(v1)).get
    // age is marker mtime: back-date v0 far past the cutoff while v1
    // stays fresh — deterministic, no wall-clock sleeps
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def backdate(txn: String): Unit = {
      fs.setTimes(new org.apache.hadoop.fs.Path(root, s"v_$txn/_COMMITTED"),
        System.currentTimeMillis() - 3600000L, -1)
      ()
    }
    backdate(v0)
    // keepLast=1 retains only v2; minAge spares v1 (just committed) but
    // NOT v0 — yet v0 must survive because spared v1 references it
    val d = AtomicPublish.vacuum(spark, root, keepLast = 1,
      minAgeMs = 60000L, graceMs = 0L)
    assert(!d.exists(_.contains(s"v_$v0")),
      s"referenced dir of a minAge-spared version was reclaimed: $d")
    assert(AtomicPublish.readTableAt(spark, root, "t", v1)
      .as[Long].collect().toSet == Set(0L, 1L))
    // once v1 ages out too, the chain is reclaimable and the live
    // consolidated version stands alone
    backdate(v1)
    val d2 = AtomicPublish.vacuum(spark, root, keepLast = 1,
      minAgeMs = 60000L, graceMs = 0L)
    assert(d2.exists(_.contains(s"v_$v0")) && d2.exists(_.contains(s"v_$v1")))
    assert(AtomicPublish.readTable(spark, root, "t")
      .as[Long].collect().toSet == Set(0L, 1L))
    assert(AtomicPublish.currentTxn(spark, root).contains(v2))
  }

  test("manifest-unsafe table names are rejected up front") {
    val root = freshRoot()
    Seq("a=b", "a,b", "a/b", "").foreach { bad =>
      intercept[IllegalArgumentException] {
        AtomicPublish.publish(spark, root, Map(bad -> Seq(1L).toDF("id")))
      }
    }
    intercept[IllegalArgumentException] {
      AtomicPublish.publishDelta(spark, root,
        append = Map("x=y" -> Seq(1L).toDF("id")))
    }
    assert(AtomicPublish.currentTxn(spark, root).isEmpty)
  }

  test("vacuum races a publisher: a version committed mid-vacuum survives") {
    // same-JVM: the commit lock serializes publish's pointer swap with
    // the whole vacuum, and the pointer is re-read after listing — a
    // publish landing at any interleaving never has its live v_ dir
    // deleted. Stress it: vacuums race publishes; after every round the
    // CURRENT version must be fully readable.
    val root = freshRoot()
    AtomicPublish.publish(spark, root, Map("t" -> Seq(0L).toDF("id")))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    val bad = new java.util.concurrent.atomic.AtomicReference[String](null)
    val writer = pool.submit(new Runnable {
      def run(): Unit = (1 to 6).foreach { k =>
        AtomicPublish.publish(spark, root,
          Map("t" -> Seq.fill(k)(k.toLong).toDF("id")))
      }
    })
    val cleaner = pool.submit(new Runnable {
      def run(): Unit = (1 to 6).foreach { _ =>
        AtomicPublish.vacuum(spark, root)
        try {
          val txn = AtomicPublish.currentTxn(spark, root).get
          AtomicPublish.readTableAt(spark, root, "t", txn).count()
          ()
        } catch {
          case e: Exception => bad.compareAndSet(null, e.toString)
        }
      }
    })
    writer.get(); cleaner.get(); pool.shutdown()
    assert(bad.get() == null, s"live version vanished under vacuum: ${bad.get()}")
    assert(AtomicPublish.readTable(spark, root, "t").count() == 6)
  }

  test("local publishes leave no checksum sidecars; a stale one can't brick the store") {
    import spark.implicits._
    val root = freshRoot()
    (1 to 3).foreach { k =>
      AtomicPublish.publish(spark, root,
        Map("t" -> Seq(k.toLong).toDF("id")))
    }
    // the NIO manifest path must not accrete Hadoop .crc sidecars (the
    // checksum layer can't see a POSIX rename; its leftovers would both
    // leak forever and fail verification against newer manifests)
    val ls = java.nio.file.Files.list(java.nio.file.Paths.get(root))
    val leftovers =
      try ls.toArray.map(_.toString).filter(_.endsWith(".crc"))
      finally ls.close()
    assert(leftovers.isEmpty, leftovers.mkString(","))
    // simulate a store written by a pre-NIO build: a stale ._CURRENT.crc
    // describing an older manifest must not make the store unreadable
    java.nio.file.Files.write(
      java.nio.file.Paths.get(root, "._CURRENT.crc"), Array[Byte](1, 2, 3))
    val txn = AtomicPublish.publish(spark, root,
      Map("t" -> Seq(9L).toDF("id")))
    assert(AtomicPublish.currentTxn(spark, root).contains(txn))
    assert(AtomicPublish.readTable(spark, root, "t").count() == 1)
  }

  test("concurrent publishers never produce a torn read") {
    // N threads race to publish different (rows, stats) pairs while a
    // reader polls. Last committed pointer wins; every read must see a
    // mutually consistent pair — the atomic-swap observable under
    // contention, not just in sequence.
    val root = freshRoot()
    AtomicPublish.publish(spark, root, Map(
      "rows" -> spark.range(1).toDF("id"),
      "stats" -> spark.range(1).toDF("id").groupBy().count()))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    val torn = new java.util.concurrent.atomic.AtomicReference[String](null)
    val writers = (1 to 4).map { k =>
      pool.submit(new Runnable {
        def run(): Unit = {
          val df = spark.range(k * 10L).toDF("id")
          AtomicPublish.publish(spark, root, Map(
            "rows" -> df, "stats" -> df.groupBy().count()))
          ()
        }
      })
    }
    (1 to 10).foreach { _ =>
      // multi-table-consistent read: pin the txn ONCE, then read every
      // table at it (independent readTable calls could legitimately
      // span a pointer swap — that's reader misuse, not a torn commit)
      val txn = AtomicPublish.currentTxn(spark, root).get
      val n = AtomicPublish.readTableAt(spark, root, "rows", txn).count()
      val s = AtomicPublish.readTableAt(spark, root, "stats", txn)
        .head().getLong(0)
      if (n != s) torn.compareAndSet(null, s"rows=$n stats=$s")
    }
    writers.foreach(_.get())
    pool.shutdown()
    assert(torn.get() == null, s"torn read under contention: ${torn.get()}")
    // final state is one of the committed versions, complete
    val n = AtomicPublish.readTable(spark, root, "rows").count()
    assert(Set(1L, 10L, 20L, 30L, 40L).contains(n))
    assert(AtomicPublish.readTable(spark, root, "stats").head().getLong(0) == n)
  }

  test("foreachBatch ingest publishes each micro-batch atomically") {
    // streaming ingest + transactional sink: every micro-batch commits
    // its table set in one publish, so a reader polling `readTable`
    // between batches always sees a complete, matching pair of tables
    val root = freshRoot()
    val in = java.nio.file.Files.createTempDirectory("graft-pub-stream")
      .resolve("in").toString
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "name")
      .coalesce(1).write.json(in)
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val q = spark.readStream.schema("id LONG, name STRING").json(in)
      .writeStream
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        AtomicPublish.publish(spark, root, Map(
          "rows" -> batch,
          "stats" -> batch.groupBy().count()))
        // reader-side invariant after every commit: both tables present
        // and mutually consistent
        val n = AtomicPublish.readTable(spark, root, "rows").count()
        val s = AtomicPublish.readTable(spark, root, "stats")
          .head().getLong(0)
        seen += ((n, s))
        ()
      }
      .start()
    q.awaitTermination()
    assert(seen.nonEmpty)
    seen.foreach { case (n, s) => assert(n == s, s"torn read: rows=$n stats=$s") }
    assert(AtomicPublish.readTable(spark, root, "rows").count() == 3)
  }

  test("full ingest publish: patients + consents + audit + run metadata commit together") {
    val root = freshRoot()
    val batch = Seq((1L, "alice"), (2L, "bob")).toDF("id", "name")
      .withColumn("consent", map(lit("treatment"), lit(true)))
    val audit = Sinks.auditEntries("api", "create", "patient", batch, "id")
    val run = Sinks.pipelineRunRow(spark, "ingest", "completed",
      java.sql.Timestamp.valueOf("2026-01-01 00:00:00"),
      java.sql.Timestamp.valueOf("2026-01-01 00:00:01"), 2L, 2L, "[]", "{}")
    AtomicPublish.publish(spark, root, Map(
      "patients" -> batch.drop("consent"),
      "consents" -> Sinks.consentRowsFromBatch(batch),
      "audit_log" -> audit,
      "pipeline_runs" -> run))
    assert(AtomicPublish.readTable(spark, root, "patients").count() == 2)
    assert(AtomicPublish.readTable(spark, root, "consents").count() == 2)
    assert(AtomicPublish.readTable(spark, root, "audit_log").count() == 2)
    assert(AtomicPublish.readTable(spark, root, "pipeline_runs").count() == 1)
  }
}
