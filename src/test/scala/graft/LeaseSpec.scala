package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.hadoop.fs.Path
import graft.sources.Sinks

/** The single-writer lease (`Sinks.withSingleWriterLease`) that enforces
  * the maintenance cycles' documented "one compactor at a time"
  * invariant: a second concurrent compactor must LOSE CLEANLY (clear
  * error, store untouched), a crashed holder must not wedge the store
  * (dead-pid / expiry takeover), and a completed or crashed run must
  * always release.
  */
class LeaseSpec extends AnyFunSuite {
  lazy val spark = GraftSpark.spark
  import spark.implicits._
  import org.apache.spark.sql.functions._

  private def fs = new Path("/tmp").getFileSystem(
    spark.sessionState.newHadoopConf())

  private def fresh(name: String): String = {
    val p = Sinks.scratchDir("lease_spec") + s"/$name"
    Sinks.clearDir(p)
    p
  }

  private def writeLease(p: Path, pid: Long, host: String,
      startMs: Long): Unit = {
    val out = fs.create(p, false)
    try out.write(s"pid=$pid\nhost=$host\nstart_ms=$startMs\n".getBytes("UTF-8"))
    finally out.close()
  }

  private def deadPid(): Long = {
    val proc = new ProcessBuilder("true").start()
    proc.waitFor()
    proc.pid()
  }

  private def localHost: String =
    java.net.InetAddress.getLocalHost.getHostName

  test("two concurrent compactors: the second loses cleanly, the first finishes") {
    val dir = fresh("two_compactors")
    val base = s"$dir/events"
    val staging = s"$dir/staging"
    val table = Sinks.sessionTable(spark, "graft_lease_events")
    val delta = (0 until 100).map(i => (i.toLong % 7, i.toLong)).toDF("user_id", "ts")
    Sinks.stageSortedDelta(delta, staging)
    // compactor B starts while compactor A is mid-cycle (A's lease held):
    // B must throw the contention error, and A must complete untouched
    var bError: Option[IllegalStateException] = None
    val n = Sinks.compactSortedBucketed(spark, table, base, staging, 4,
      "user_id", Seq("ts"), onStep = step =>
        if (step == "recovered")
          bError = Some(intercept[IllegalStateException] {
            Sinks.compactSortedBucketed(spark, table, base, staging, 4,
              "user_id", Seq("ts"), _ => ())
          }))
    assert(n === 100L)
    assert(bError.exists(_.getMessage.contains("lease")),
      s"second compactor did not lose on the lease: $bError")
    assert(spark.table(table).count() === 100L)
    // A released on completion: a THIRD run (nothing to fold) acquires fine
    Sinks.compactSortedBucketed(spark, table, base, staging, 4,
      "user_id", Seq("ts"), _ => ())
  }

  test("a live same-host holder blocks every maintenance path with a clear error") {
    // the digest index's compaction (the store's _WRITER_LEASE)
    val idx = fresh("held_parquet") + "/idx"
    graft.ops.Dedup.appendExactDigestIndex(
      (0 until 20).map(i => (i.toLong, s"d$i")).toDF("doc_id", "text"), idx)
    val idxLease = graft.ops.GenerationalBatches.leasePath(new Path(idx))
    writeLease(idxLease,
      ProcessHandle.current().pid(), localHost, System.currentTimeMillis())
    val e1 = intercept[IllegalStateException] {
      graft.ops.Dedup.compactDigestIndex(spark, idx, 1)
    }
    assert(e1.getMessage.contains("lease"))
    fs.delete(idxLease, false)
    assert(graft.ops.Dedup.compactDigestIndex(spark, idx, 1) === 20L) // released -> runs

    // IncrementalSession writers (shared _WRITER_LEASE in the base dir)
    val sess = fresh("held_sess")
    val batch = Seq((1L, 0L)).toDF("user_id", "us")
      .select(col("user_id"), timestamp_micros(col("us")).as("ts"))
    writeLease(new Path(sess, "_WRITER_LEASE"),
      ProcessHandle.current().pid(), localHost, System.currentTimeMillis())
    val e2 = intercept[IllegalStateException] {
      graft.ops.IncrementalSession.appendBatch(batch, sess, "user_id", "ts", 1L)
    }
    assert(e2.getMessage.contains("lease"))
    val e3 = intercept[IllegalStateException] {
      graft.ops.IncrementalSession.compactBatches(spark, sess)
    }
    assert(e3.getMessage.contains("lease"))
    fs.delete(new Path(sess, "_WRITER_LEASE"), false)
    graft.ops.IncrementalSession.appendBatch(batch, sess, "user_id", "ts", 1L)
    assert(graft.ops.IncrementalSession.liveBatchCount(spark, sess) === 1)
  }

  test("a dead holder's lease is taken over; a live foreign one is respected until expiry") {
    val dir = fresh("takeover")
    // dead pid on THIS host: provably gone -> immediate takeover
    val l1 = new Path(dir, "lease_dead")
    writeLease(l1, deadPid(), localHost, System.currentTimeMillis())
    var ran = false
    Sinks.withSingleWriterLease(fs, l1) { ran = true }
    assert(ran)
    assert(!fs.exists(l1), "takeover run did not release")

    // foreign host, fresh: pid liveness is unknowable -> must respect it
    val l2 = new Path(dir, "lease_foreign")
    writeLease(l2, 1L, "some-other-host", System.currentTimeMillis())
    intercept[IllegalStateException] {
      Sinks.withSingleWriterLease(fs, l2) { fail("must not run") }
    }
    // ...until it expires
    Thread.sleep(60)
    Sinks.withSingleWriterLease(fs, l2, staleMs = 50) { ran = false }
    assert(!ran && !fs.exists(l2))
  }

  test("release is fenced: an expired holder must not delete its usurper's lease") {
    val dir = fresh("fenced_release")
    val l = new Path(dir, "lease")
    // A runs past its own staleMs; mid-body a usurper (legitimately, by
    // expiry) replaces the lease. A's release must leave the usurper's
    // lease untouched — an unconditional delete would admit a THIRD writer.
    val usurper = "pid=999999\nhost=elsewhere\n" +
      s"start_ms=${System.currentTimeMillis()}\ntoken=usurper-token\n"
    Sinks.withSingleWriterLease(fs, l, staleMs = 10) {
      Thread.sleep(20) // now expired from any other writer's viewpoint
      fs.delete(l, false) // the usurper's takeover: delete + re-create
      val out = fs.create(l, false)
      try out.write(usurper.getBytes("UTF-8")) finally out.close()
    }
    assert(fs.exists(l), "expired holder deleted its usurper's lease")
    val in = fs.open(l)
    val content = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    assert(content === usurper, "usurper's lease was rewritten")
    // and the usurper's lease still excludes new writers while fresh
    intercept[IllegalStateException] {
      Sinks.withSingleWriterLease(fs, l) { fail("must not run") }
    }
    fs.delete(l, false)
  }

  test("simultaneous takeovers of a stale lease admit exactly one holder at a time") {
    // takeover CLAIMS the stale lease by atomic rename (a blind delete
    // would let T2 remove T1's FRESH lease between T1's create and T2's
    // delete — two concurrent holders). Six threads race one stale lease;
    // the invariant is NO CONCURRENT OVERLAP, not who wins.
    val dir = fresh("takeover_race")
    val l = new Path(dir, "lease")
    writeLease(l, deadPid(), localHost, 0L) // stale by pid AND by age
    val active = new java.util.concurrent.atomic.AtomicInteger(0)
    val maxActive = new java.util.concurrent.atomic.AtomicInteger(0)
    val ran = new java.util.concurrent.atomic.AtomicInteger(0)
    val start = new java.util.concurrent.CountDownLatch(1)
    val threads = (0 until 6).map { _ =>
      new Thread(() => {
        start.await()
        try Sinks.withSingleWriterLease(fs, l, staleMs = 60000) {
          val a = active.incrementAndGet()
          maxActive.updateAndGet(m => math.max(m, a))
          Thread.sleep(150)
          active.decrementAndGet()
          ran.incrementAndGet()
        } catch { case _: IllegalStateException => () } // lost the race: fine
      })
    }
    threads.foreach(_.start())
    start.countDown()
    threads.foreach(_.join(30000))
    assert(ran.get() >= 1, "no takeover succeeded")
    assert(maxActive.get() === 1,
      s"${maxActive.get()} writers held the lease concurrently")
  }

  test("a stale claim verifies content: a fresh lease renamed away by mistake is restored") {
    // the window: T judges the lease stale, the stale holder RELEASES, a
    // new writer W acquires — all before T's claim-by-rename lands. The
    // file T renames away is then W's FRESH lease; deleting it blind
    // would admit a second writer alongside W. claimStaleLease must
    // notice the content mismatch and put W's lease back.
    val dir = fresh("claim_verify")
    val l = new Path(dir, "lease")
    val observed = Map("pid" -> "1", "host" -> "gone-host",
      "start_ms" -> "0", "token" -> "stale-token")
    val freshLease = "pid=4242\nhost=live-host\n" +
      s"start_ms=${System.currentTimeMillis()}\ntoken=fresh-token\n"
    val out = fs.create(l, false)
    try out.write(freshLease.getBytes("UTF-8")) finally out.close()
    Sinks.claimStaleLease(fs, l, observed, "claimer-token")
    assert(fs.exists(l), "a fresh lease was destroyed by a stale claim")
    val in = fs.open(l)
    val content = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    assert(content === freshLease, "restored lease content changed")

    // and the genuine case: matching content IS deleted (claim succeeds)
    val l2 = new Path(dir, "lease2")
    val staleContent = "pid=1\nhost=gone-host\nstart_ms=0\ntoken=stale-token\n"
    val out2 = fs.create(l2, false)
    try out2.write(staleContent.getBytes("UTF-8")) finally out2.close()
    Sinks.claimStaleLease(fs, l2,
      Map("pid" -> "1", "host" -> "gone-host", "start_ms" -> "0",
        "token" -> "stale-token"), "claimer-token")
    assert(!fs.exists(l2), "the genuinely stale lease was not claimed")
    assert(fs.listStatus(new Path(dir)).map(_.getPath.getName)
      .forall(!_.startsWith(".lease2")), "claim left a grave file behind")
  }

  test("cold-acquire race on a local FS: one winner, losers fail cleanly (documented TOCTOU caveat)") {
    // LocalFileSystem's create(overwrite = false) is exists-check-then-
    // create — NOT atomic (the documented caveat at the acquire-side
    // scaladoc). In-JVM the leaseCreateMutex serializes that window; this
    // race pins it: six threads cold-acquire one ABSENT lease, exactly
    // one may hold at a time, and every loser gets the clean contention
    // error (never a corrupted half-written lease). Cross-PROCESS the
    // arbiter is the FS's own create — atomic on HDFS, conditional-put
    // on recent S3A; elsewhere the scaladoc directs to an external lock.
    val dir = fresh("cold_race")
    val l = new Path(dir, "lease")
    val active = new java.util.concurrent.atomic.AtomicInteger(0)
    val maxActive = new java.util.concurrent.atomic.AtomicInteger(0)
    val won = new java.util.concurrent.atomic.AtomicInteger(0)
    val cleanLosses = new java.util.concurrent.atomic.AtomicInteger(0)
    val start = new java.util.concurrent.CountDownLatch(1)
    val threads = (0 until 6).map { _ =>
      new Thread(() => {
        start.await()
        try Sinks.withSingleWriterLease(fs, l) {
          val a = active.incrementAndGet()
          maxActive.updateAndGet(m => math.max(m, a))
          Thread.sleep(100)
          active.decrementAndGet()
          won.incrementAndGet()
        } catch {
          case e: IllegalStateException if e.getMessage.contains("lease") =>
            cleanLosses.incrementAndGet()
        }
      })
    }
    threads.foreach(_.start())
    start.countDown()
    threads.foreach(_.join(30000))
    assert(maxActive.get() === 1,
      s"${maxActive.get()} writers held the cold lease concurrently")
    assert(won.get() >= 1 && won.get() + cleanLosses.get() === 6,
      s"won=${won.get()} cleanLosses=${cleanLosses.get()} — a loser died unclean")
    assert(!fs.exists(l), "winner did not release")
  }

  test("a crashed body still releases the lease") {
    val dir = fresh("crash_release")
    val l = new Path(dir, "lease")
    intercept[RuntimeException] {
      Sinks.withSingleWriterLease(fs, l) { sys.error("boom mid-compaction") }
    }
    assert(!fs.exists(l), "crashed run left the lease behind")
    var ran = false
    Sinks.withSingleWriterLease(fs, l) { ran = true }
    assert(ran)
  }
}
