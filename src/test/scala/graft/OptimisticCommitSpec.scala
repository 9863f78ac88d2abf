package graft

import java.nio.file.Files
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import graft.io.{FsOps, MergeOnRead, Upsert}

/** VERDICT r14 #1 — optimistic concurrent writers. The table lease is
  * now only a short critical section around the manifest commit: a
  * merge stages WITHOUT the lock (an intent marker keeps vacuum off
  * the staged generation), then rebases onto interleaved
  * bucket-disjoint commits or aborts with the retryable
  * CommitConflictException. MOR blind delta appends take a DELTA-ROOT
  * lease, so a streaming sink's epoch commit never stalls behind a
  * table-lease-holding background compaction.
  *
  * Deterministic interleavings use mergeOptimistic's `beforeCommit`
  * test seam (runs after staging, before the commit critical
  * section); a threaded soak covers the genuinely-racing case.
  */
class OptimisticCommitSpec extends SparkSpec {
  import spark.implicits._

  private val pk = Seq("id")

  /** Keys chosen so the two writers' waves land in DISJOINT placement
    * buckets (bucketOfKey is the proven driver-side mirror of the
    * placement hash).
    */
  private def keysByBucket(n: Int): Map[Int, Seq[String]] =
    (1 to 200).map(i => s"k$i").groupBy(Upsert.bucketOfKey(_, n))
      .view.mapValues(_.toSeq).toMap

  private def content(dir: String): Map[String, (Long, String)] =
    Upsert.read(spark, dir).select("id", "ver", "v")
      .as[(String, Long, String)].collect().map(t => t._1 -> (t._2, t._3)).toMap

  test("manifest memo is never stale: concurrent commits and a table recreate are re-read") {
    // parsed manifests are cached (graft.io.FileMeta) on the manifest
    // file's identity (len, mtime). Currency must stay un-cached — a
    // reader that resolved gen N must see gen N+1 the moment a
    // concurrent writer commits it — and a dropped-and-recreated table
    // whose gen numbering restarts must never be served the dead
    // table's file list.
    val dir = s"${Files.createTempDirectory("optmemo").toString}/t"
    Upsert.merge(spark, dir, Seq(("k1", 1L, "old")).toDF("id", "ver", "v"),
      pk, "ver")
    // populate the memo for gen 1
    val g1 = Upsert.currentManifest(spark, dir).get
    assert(Upsert.manifestAt(spark, dir, g1.gen).get.files == g1.files)
    // a "concurrent writer" commits gen 2: the next currentManifest
    // call must serve it, not the memoized gen 1
    Upsert.merge(spark, dir, Seq(("k1", 2L, "new")).toDF("id", "ver", "v"),
      pk, "ver")
    val g2 = Upsert.currentManifest(spark, dir).get
    assert(g2.gen > g1.gen, "currency is re-listed, never memoized")
    assert(content(dir)("k1") == (2L, "new"))
    // drop + recreate: same dir, gen numbering restarts at g1.gen — the
    // stale parse of that gen must not resurface (len/mtime key them
    // apart; a recreate cannot land inside the same mtime tick with
    // byte-identical length here because the file lists differ)
    val fs = FsOps.fs(spark, new Path(dir))
    fs.delete(new Path(dir), true)
    Upsert.merge(spark, dir,
      Seq(("fresh1", 1L, "recreated"), ("fresh2", 1L, "recreated"))
        .toDF("id", "ver", "v"), pk, "ver")
    val r1 = Upsert.currentManifest(spark, dir).get
    assert(r1.gen == g1.gen, s"recreate restarts numbering (got ${r1.gen})")
    assert(r1.files != g1.files,
      "the recreated table's manifest must be re-parsed, not served stale")
    assert(Upsert.manifestAt(spark, dir, r1.gen).get.files == r1.files)
    assert(content(dir).keySet == Set("fresh1", "fresh2"))
  }

  test("interleaved DISJOINT-bucket commit: the staged merge rebases and both commit") {
    val dir = s"${Files.createTempDirectory("opt").toString}/t"
    val byBucket = keysByBucket(16)
    val aKeys = byBucket(0).take(2)  // writer A's wave: bucket 0
    val bKey = byBucket(1).head      // interleaved wave: bucket 1
    Upsert.merge(spark, dir, Seq((aKeys.head, 1L, "base")).toDF("id", "ver", "v"),
      pk, "ver")
    val genBefore = Upsert.currentManifest(spark, dir).get.gen
    // A stages its bucket-0 wave; the seam commits a bucket-1 merge in
    // between — A must detect the advance and rebase, not clobber
    Upsert.mergeOptimistic(spark, dir,
      Seq((aKeys(1), 2L, "a")).toDF("id", "ver", "v"), pk, "ver",
      beforeCommit = () =>
        Upsert.merge(spark, dir, Seq((bKey, 2L, "b")).toDF("id", "ver", "v"),
          pk, "ver"))
    val c = content(dir)
    assert(c(aKeys(1)) == (2L, "a"), "the rebased merge's row must be present")
    assert(c(bKey) == (2L, "b"), "the interleaved merge's row must survive the rebase")
    assert(c(aKeys.head) == (1L, "base"))
    val gens = Upsert.manifestGens(spark, dir)
    assert(gens.max > genBefore + 1, s"two commits landed after gen $genBefore: $gens")
    // no intent markers or locks left behind
    val fs = FsOps.fs(spark, new Path(dir))
    assert(!fs.listStatus(new Path(dir)).exists(_.getPath.getName.startsWith("_intent-")))
    assert(!fs.exists(new Path(dir, "_lock")))
  }

  test("interleaved SAME-bucket commit: loud retryable conflict, then a retry converges") {
    val dir = s"${Files.createTempDirectory("opt").toString}/t"
    val byBucket = keysByBucket(16)
    val k0 = byBucket(0).head; val k0b = byBucket(0)(1)
    Upsert.merge(spark, dir, Seq((k0, 1L, "base")).toDF("id", "ver", "v"), pk, "ver")
    val ex = intercept[Upsert.CommitConflictException] {
      Upsert.mergeOptimistic(spark, dir,
        Seq((k0, 2L, "mine")).toDF("id", "ver", "v"), pk, "ver",
        beforeCommit = () =>
          Upsert.merge(spark, dir, Seq((k0b, 2L, "theirs")).toDF("id", "ver", "v"),
            pk, "ver"))
    }
    assert(ex.getMessage.contains("buckets"), ex.getMessage)
    // the abort left the interleaved commit intact and no staged garbage
    val c = content(dir)
    assert(c(k0) == (1L, "base") && c(k0b) == (2L, "theirs"))
    // a conflict is also a ConcurrentWriterException: every existing
    // contention handler (the sink's retry loop) retries it
    assert(ex.isInstanceOf[Upsert.ConcurrentWriterException])
    Upsert.merge(spark, dir, Seq((k0, 2L, "mine")).toDF("id", "ver", "v"), pk, "ver")
    assert(content(dir)(k0) == (2L, "mine"))
  }

  test("interleaved METADATA change (ALTER) aborts the rebase loudly") {
    val dir = s"${Files.createTempDirectory("opt").toString}/t"
    val byBucket = keysByBucket(16)
    Upsert.merge(spark, dir,
      Seq((byBucket(0).head, 1L, "base")).toDF("id", "ver", "v"), pk, "ver")
    val ex = intercept[Upsert.CommitConflictException] {
      Upsert.mergeOptimistic(spark, dir,
        Seq((byBucket(1).head, 2L, "a")).toDF("id", "ver", "v"), pk, "ver",
        beforeCommit = () => Upsert.addColumns(spark, dir,
          Seq(org.apache.spark.sql.types.StructField("extra",
            org.apache.spark.sql.types.StringType))))
    }
    assert(ex.getMessage.contains("metadata"), ex.getMessage)
  }

  test("create race and drop race abort retryably; aborted stage leaves no garbage") {
    val root = Files.createTempDirectory("opt").toString
    val createDir = s"$root/c"
    intercept[Upsert.CommitConflictException] {
      Upsert.mergeOptimistic(spark, createDir,
        Seq(("k1", 1L, "loser")).toDF("id", "ver", "v"), pk, "ver",
        beforeCommit = () =>
          Upsert.merge(spark, createDir,
            Seq(("k1", 1L, "winner")).toDF("id", "ver", "v"), pk, "ver"))
    }
    assert(content(createDir)("k1") == (1L, "winner"))
    // the loser's staged generation was deleted on abort: the winner's
    // files are the only ones under the table
    val fs = FsOps.fs(spark, new Path(createDir))
    val winnerRefs = Upsert.currentManifest(spark, createDir).get.allFiles.toSet
    val genDirs = fs.listStatus(new Path(createDir))
      .filter(_.getPath.getName.startsWith("__gen=")).map(_.getPath.getName).toSet
    assert(genDirs == winnerRefs.map(_.split('/').head),
      s"aborted stage must be gone: dirs $genDirs vs refs $winnerRefs")
    assert(!fs.listStatus(new Path(createDir))
      .exists(_.getPath.getName.startsWith("_intent-")))

    val dropDir = s"$root/d"
    Upsert.merge(spark, dropDir, Seq(("k1", 1L, "x")).toDF("id", "ver", "v"),
      pk, "ver")
    val ex = intercept[Upsert.CommitConflictException] {
      Upsert.mergeOptimistic(spark, dropDir,
        Seq(("k2", 1L, "y")).toDF("id", "ver", "v"), pk, "ver",
        beforeCommit = () => { Upsert.dropTable(spark, dropDir); () })
    }
    assert(ex.getMessage.contains("vanished"), ex.getMessage)
  }

  test("vacuum during an unlocked stage spares the intent-marked generation") {
    val dir = s"${Files.createTempDirectory("opt").toString}/t"
    val byBucket = keysByBucket(16)
    Upsert.merge(spark, dir,
      Seq((byBucket(0).head, 1L, "base")).toDF("id", "ver", "v"), pk, "ver")
    // the seam vacuums aggressively mid-stage: the staged (not yet
    // committed) generation carries a FRESH intent and must survive
    Upsert.mergeOptimistic(spark, dir,
      Seq((byBucket(1).head, 2L, "staged")).toDF("id", "ver", "v"), pk, "ver",
      beforeCommit = () => Upsert.vacuum(spark, dir, keepManifests = 1))
    assert(content(dir)(byBucket(1).head) == (2L, "staged"))
  }

  test("a STALE intent (crashed optimistic writer) is swept with its staged dir") {
    val dir = s"${Files.createTempDirectory("opt").toString}/t"
    Upsert.merge(spark, dir, Seq(("k1", 1L, "x")).toDF("id", "ver", "v"), pk, "ver")
    val fs = FsOps.fs(spark, new Path(dir))
    // fabricate a crashed stage: orphan gen dir + intent whose
    // heartbeat died long ago
    val orphan = new Path(dir, "__gen=90/__bucket=0")
    fs.mkdirs(orphan)
    val out = fs.create(new Path(orphan, "part-dead.parquet"), true)
    out.write(Array[Byte](1)); out.close()
    val intent = new Path(dir, "_intent-90")
    val io = fs.create(intent, true); io.write("0".getBytes); io.close()
    fs.setTimes(intent, System.currentTimeMillis() - 11 * 60 * 1000L, -1)
    Upsert.vacuum(spark, dir, keepManifests = 1)
    assert(!fs.exists(intent), "stale intent must be deleted")
    assert(!fs.exists(new Path(dir, "__gen=90")), "crashed stage must be swept")
    // and a FRESH intent protects its dir even with no lock held
    val live = new Path(dir, "__gen=91/__bucket=0")
    fs.mkdirs(live)
    val lo = fs.create(new Path(live, "part-live.parquet"), true)
    lo.write(Array[Byte](1)); lo.close()
    val li = fs.create(new Path(dir, "_intent-91"), true); li.write("0".getBytes); li.close()
    Upsert.vacuum(spark, dir, keepManifests = 1)
    assert(fs.exists(new Path(dir, "__gen=91")), "fresh intent must protect the stage")
  }

  test("soak: two writers on DISJOINT buckets race 6 rounds each — no aborts required, no rows lost") {
    val dir = s"${Files.createTempDirectory("opt").toString}/t"
    val byBucket = keysByBucket(16)
    val aKeys = byBucket(2).take(3); val bKeys = byBucket(3).take(3)
    Upsert.merge(spark, dir, Seq((byBucket(0).head, 0L, "seed"))
      .toDF("id", "ver", "v"), pk, "ver")
    val errs = new java.util.concurrent.atomic.AtomicInteger(0)
    @volatile var unexpected: Option[Throwable] = None
    def writer(keys: Seq[String], tag: String) = new Thread(() => {
      (1 to 6).foreach { i =>
        var done = false
        var attempts = 0
        while (!done) {
          try {
            Upsert.merge(spark, dir,
              keys.map(k => (k, i.toLong, s"$tag$i")).toDF("id", "ver", "v"),
              pk, "ver")
            done = true
          } catch {
            // bucket-disjoint writers never truly conflict, but their
            // COMMIT sections may contend on the short lease — retry,
            // bounded, like any producer would
            case _: Upsert.ConcurrentWriterException if attempts < 20 =>
              errs.incrementAndGet(); attempts += 1; Thread.sleep(50)
            case t: Throwable => unexpected = Some(t); done = true
          }
        }
      }
    })
    val a = writer(aKeys, "a"); val b = writer(bKeys, "b")
    a.start(); b.start(); a.join(300000); b.join(300000)
    assert(unexpected.isEmpty, s"unexpected failure: $unexpected")
    val c = content(dir)
    aKeys.foreach(k => assert(c(k) == (6L, "a6"), s"$k -> ${c.get(k)}"))
    bKeys.foreach(k => assert(c(k) == (6L, "b6"), s"$k -> ${c.get(k)}"))
    assert(c(byBucket(0).head) == (0L, "seed"))
  }

  test("MOR delta append proceeds while the TABLE lease is held (epochs never stall behind compaction)") {
    val dir = s"${Files.createTempDirectory("optmor").toString}/t"
    MergeOnRead.merge(spark, dir,
      Seq(("k1", 1L, 10L)).toDF("id", "ver", "amount"))
    // a long maintenance pass holds the TABLE lease…
    @volatile var holderReleased = false
    val holder = new Thread(() => {
      Upsert.withCompositeLease(spark, dir) {
        Thread.sleep(4000); holderReleased = true
      }
    })
    holder.start()
    Thread.sleep(300) // let it acquire
    // …and the blind append commits anyway, promptly
    val t0 = System.nanoTime()
    val id = MergeOnRead.merge(spark, dir,
      Seq(("k2", 1L, 20L)).toDF("id", "ver", "amount"))
    val elapsedMs = (System.nanoTime() - t0) / 1e6
    assert(!holderReleased,
      "append must have finished while the table lease was still held")
    assert(id == 1L)
    holder.join(20000)
    assert(elapsedMs < 3000, s"append stalled ${elapsedMs}ms behind the table lease")
    val got = MergeOnRead.read(spark, dir, pk, "ver").select("id")
      .as[String].collect().toSet
    assert(got == Set("k1", "k2"))
  }

  test("concurrent MOR appends serialize on the delta lease: distinct batch ids, both commit") {
    val dir = s"${Files.createTempDirectory("optmor").toString}/t"
    MergeOnRead.merge(spark, dir, Seq(("k0", 1L, 0L)).toDF("id", "ver", "amount"))
    val ids = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    @volatile var unexpected: Option[Throwable] = None
    def appender(k: String) = new Thread(() => {
      try (1 to 4).foreach { i =>
        var done = false
        while (!done) {
          try {
            ids.add(MergeOnRead.merge(spark, dir,
              Seq((s"$k$i", i.toLong, i.toLong)).toDF("id", "ver", "amount")))
            done = true
          } catch {
            case _: Upsert.ConcurrentWriterException => Thread.sleep(20)
          }
        }
      } catch { case t: Throwable => unexpected = Some(t) }
    })
    val a = appender("a"); val b = appender("b")
    a.start(); b.start(); a.join(120000); b.join(120000)
    assert(unexpected.isEmpty, s"unexpected: $unexpected")
    assert(ids.size() == 8, s"8 distinct batch ids expected, got $ids")
    val got = MergeOnRead.read(spark, dir, pk, "ver").count()
    assert(got == 9L, s"9 rows expected, got $got")
  }
}
