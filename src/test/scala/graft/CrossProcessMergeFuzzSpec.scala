package graft

import java.nio.file.{Files, Path, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.tools.MergeRace

/** Cross-process DIFFERENTIAL merge fuzz (r14 verdict task 1): a forked
  * second JVM and this one each fold seeded random batches — key
  * overlap (private ranges + a shared range both processes write),
  * schema evolution mid-sequence, growth-law doublings (tiny byte
  * target, so full rewrites race incremental folds), kill -9 of the
  * foreign writer — into ONE bucketed table through the real
  * `Upsert.writeMerged` path, retrying on the documented rejection
  * shapes. Afterwards the table must equal the in-memory fold of all
  * successfully committed batches (per-process commit logs; one
  * ambiguous trailing batch after a kill is resolved by idempotent
  * replay, the crash-matrix discipline).
  *
  * This is the COMPOSITION proof MergeFuzzSpec (single-process
  * differential) and CrossProcessFenceSpec (cross-process, bare
  * counter) each show half of: the fence and the touched-bucket write
  * hold together under real multi-process contention. Shared-range
  * keys use the linearizability candidate check (final value must be
  * ONE writer's last committed value — global commit order is
  * unobservable from per-process logs; the counter-based FenceRace
  * already pins global-order exactness), private ranges are exact. */
@SlowTest
class CrossProcessMergeFuzzSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.session

  private val ParentBase = 0L
  private val ChildBase = 1000L
  private val Span = 180

  private def readState(path: String): Map[Long, (String, Option[Long])] =
    spark.read.parquet(path).collect().map { r =>
      val k = r.getLong(r.fieldIndex("id"))
      val e = if (r.schema.fieldNames.contains("c1") &&
          !r.isNullAt(r.fieldIndex("c1")))
        Some(r.getLong(r.fieldIndex("c1"))) else None
      k -> (r.getString(r.fieldIndex("v")), e)
    }.toMap

  /** Child stdout/stderr go to a FILE, not a pipe: a Spark child logs
    * enough at startup to fill a 64 KB pipe buffer and deadlock. */
  private def forkChild(table: String, log: Path, seed: Long, n: Int,
      out: Path): Process = {
    val javaBin = Paths.get(sys.props("java.home"), "bin", "java").toString
    new ProcessBuilder(
      javaBin, "-Xmx1500m", "-cp", sys.props("java.class.path"),
      "graft.tools.MergeRace", table, log.toString, seed.toString,
      n.toString, ChildBase.toString, Span.toString)
      .redirectErrorStream(true)
      .redirectOutput(out.toFile).start()
  }

  /** Exact check on a private key range, candidate check on the shared
    * range. `folds` are the per-process oracles; `lastIsExact` marks
    * keys whose final value is known exactly (a replayed batch is the
    * globally LAST commit). */
  private def verify(table: String,
      parentFold: Map[Long, (String, Option[Long])],
      childFold: Map[Long, (String, Option[Long])],
      exactLast: Map[Long, (String, Option[Long])] = Map.empty): Unit = {
    val got = readState(table)
    val isShared = (k: Long) => k >= MergeRace.SharedBase
    // private ranges: exact per-process fold, order-independent
    for ((fold, name) <- Seq((parentFold, "parent"), (childFold, "child"))) {
      val priv = fold.filterNot { case (k, _) => isShared(k) }
      val gotPriv = got.filter { case (k, _) =>
        priv.contains(k) }
      assert(gotPriv == priv,
        s"$name private-range keys diverged: " +
          s"missing=${(priv.keySet -- gotPriv.keySet).toSeq.sorted.take(5)} " +
          s"wrong=${priv.collect { case (k, v) if gotPriv.get(k).exists(_ != v) => k }.toSeq.sorted.take(5)}")
    }
    // no phantom keys from nowhere
    val known = parentFold.keySet ++ childFold.keySet
    assert(got.keySet.subsetOf(known),
      s"phantom keys: ${(got.keySet -- known).toSeq.sorted.take(5)}")
    // shared range: final value is SOME writer's last committed value
    val sharedKeys = (parentFold.keySet ++ childFold.keySet).filter(isShared)
    sharedKeys.foreach { k =>
      exactLast.get(k) match {
        case Some(v) =>
          assert(got.get(k).contains(v),
            s"shared key $k: expected the replayed (globally last) " +
              s"value $v, got ${got.get(k)}")
        case None =>
          val candidates = Set(parentFold.get(k), childFold.get(k)).flatten
          assert(got.get(k).exists(candidates.contains),
            s"shared key $k: final ${got.get(k)} is neither writer's " +
              s"last committed value ($candidates) — stale value " +
              "resurfaced or key lost")
      }
    }
  }

  // extra seeds for recorded soaks: -Dgraft.mergerace.seeds=1,2,3
  private def extraSeeds: Seq[Long] =
    sys.props.get("graft.mergerace.seeds").toSeq
      .flatMap(_.split(",")).map(_.trim.toLong)

  test("two JVMs fold seeded random batches into ONE bucketed table " +
      "(key overlap, evolution, growth doublings): table equals the " +
      "fold of all committed batches") {
    for (seed <- Seq(7101L) ++ extraSeeds) {
      val dir = Files.createTempDirectory(s"xmerge-$seed-")
      val table = dir.resolve("t").toString
      val childLog = dir.resolve("child.log")
      val n = 8
      val childOut = dir.resolve("child.out")
      val child = forkChild(table, childLog, seed + 1, n, childOut)
      try {
        // overlap genuinely: wait for the child's first commit
        val deadline = System.nanoTime + 120L * 1000 * 1000 * 1000
        while (MergeRace.parseLog(childLog)._1.isEmpty &&
            System.nanoTime < deadline) Thread.sleep(50)
        assert(MergeRace.parseLog(childLog)._1.nonEmpty,
          "child JVM never landed a commit within 120 s")
        // parent folds its own sequence concurrently, same table
        val parentLog = dir.resolve("parent.log")
        MergeRace.run(spark, table, parentLog, seed, n, ParentBase, Span)
        assert(child.waitFor(180, java.util.concurrent.TimeUnit.SECONDS),
          "child did not exit")
        val out = Files.readString(childOut)
        assert(child.exitValue == 0 && out.contains("MERGE_RACE_OK"),
          s"child failed:\n${out.takeRight(4000)}")
        val (done, ambiguous) = MergeRace.parseLog(childLog)
        assert(done == (0 until n).toSet && ambiguous.isEmpty,
          s"clean child must commit all: done=$done amb=$ambiguous")
        val parentFold = MergeRace.genBatches(seed, n, ParentBase, Span)
          .foldLeft(Map.empty[Long, (String, Option[Long])])(MergeRace.fold)
        val childFold = MergeRace.genBatches(seed + 1, n, ChildBase, Span)
          .foldLeft(Map.empty[Long, (String, Option[Long])])(MergeRace.fold)
        verify(table, parentFold, childFold)
        // the race crossed growth-law boundaries (rewriteAll vs fold)
        val buckets = graft.silver.BucketedState.markerBuckets(table)
        assert(buckets.exists(_ > 4),
          s"race never crossed a growth boundary (buckets=$buckets)")
      } finally {
        child.destroyForcibly(); child.waitFor()
        graft.silver.Upsert.deleteRecursively(dir)
      }
    }
  }

  test("kill -9 the foreign writer MID-MERGE: ambiguous trailing batch " +
      "resolved by idempotent replay, table equals the committed fold, " +
      "store stays writable") {
    for (seed <- Seq(7301L) ++ extraSeeds.map(_ + 500L)) {
      val dir = Files.createTempDirectory(s"xmerge-kill-$seed-")
      val table = dir.resolve("t").toString
      val childLog = dir.resolve("child.log")
      val n = 30 // more than it will live to commit
      val child = forkChild(table, childLog, seed + 1, n,
        dir.resolve("child.out"))
      try {
        // let it get going, then kill while the PARENT races
        val deadline = System.nanoTime + 120L * 1000 * 1000 * 1000
        while (MergeRace.parseLog(childLog)._1.size < 2 &&
            System.nanoTime < deadline) Thread.sleep(50)
        assert(MergeRace.parseLog(childLog)._1.size >= 2,
          "child never got going")
        val killer = new Thread(() => {
          Thread.sleep(400); child.destroyForcibly(): Unit
        })
        killer.start()
        val parentN = 6
        MergeRace.run(spark, table, dir.resolve("parent.log"), seed,
          parentN, ParentBase, Span)
        killer.join(); child.waitFor()
        val (done, ambiguous) = MergeRace.parseLog(childLog)
        assert(done.nonEmpty, "kill landed before any commit")
        val childBatches = MergeRace.genBatches(seed + 1, n, ChildBase, Span)
        // resolve the ambiguity: replay the started-but-unconfirmed
        // batch (idempotent — same keys, same values); it becomes the
        // globally LAST commit, so its keys are exact in the oracle
        val replayed = ambiguous.map(childBatches)
        replayed.foreach(b => MergeRace.applyBatch(spark, table, b))
        val committedChild =
          childBatches.filter(b => done(b.idx)) ++ replayed
        val childFold = committedChild
          .foldLeft(Map.empty[Long, (String, Option[Long])])(MergeRace.fold)
        val parentFold = MergeRace.genBatches(seed, parentN, ParentBase, Span)
          .foldLeft(Map.empty[Long, (String, Option[Long])])(MergeRace.fold)
        val exactLast = replayed.toSeq.flatMap(_.rows.collect {
          case (k, v, e) if k >= MergeRace.SharedBase => k -> ((v, e))
        }).toMap
        verify(table, parentFold, childFold, exactLast)
        // the store must remain foldable after the kill: one more
        // parent batch lands and reads back exactly
        val extra = MergeRace.genBatches(seed + 9, 1, ParentBase, Span)
        extra.foreach(b => MergeRace.applyBatch(spark, table, b))
        val finalFold = extra.foldLeft(parentFold)(MergeRace.fold)
        verify(table, finalFold, childFold, exactLast -- extra.head.rows
          .map(_._1))
        // kill leftovers (dead child's fresh stage + marker) age out
        sys.props.put("graft.fence.staleStageMs", "0")
        try graft.silver.Upsert.healSwap(Paths.get(table))
        finally sys.props.remove("graft.fence.staleStageMs")
        val strays = graft.core.Fs.children(dir)
          .map(_.getFileName.toString)
          .filter(x => x.contains(".tmp-") || x.contains(".live-") ||
            x.contains(".old-"))
        assert(strays.isEmpty, s"kill leftovers survived stale heal: $strays")
      } finally {
        child.destroyForcibly(); child.waitFor()
        graft.silver.Upsert.deleteRecursively(dir)
      }
    }
  }
}
