package graft.ops

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Multi-writer optimistic concurrency (VERDICT-r9 ask #2): a commit
  * that loses its CAS race LANDS BY REBASE — the already-sealed
  * segments commit against the winner's manifest — when the writers
  * are provably disjoint, and surfaces a NAMED conflict (falling back
  * to the recompute loop) when they are not. "No recompute" is
  * observable: [[AtomicPublish.Concurrency.staged]] counts stagings
  * (= evaluations of the caller's frames), so a commit that landed
  * with one staging never re-ran its input. */
class ConcurrencySpec extends SparkSuite {
  import spark.implicits._

  private def freshRoot(): String =
    Files.createTempDirectory("graft-conc").resolve("store").toString

  private def rows(root: String, table: String = "docs"): Set[(Long, String)] =
    AtomicPublish.readTable(spark, root, table)
      .select("id", "v").as[(Long, String)].collect().toSet

  private def staged = AtomicPublish.Concurrency.staged.get()
  private def rebased = AtomicPublish.Concurrency.rebased.get()

  test("an append-only delta that loses the race lands by rebase: " +
      "no restaging, the winner's rows and ours both survive") {
    val root = freshRoot()
    val p0 = AtomicPublish.publish(spark, root,
      Map("docs" -> Seq((1L, "a")).toDF("id", "v")))
    // the winner: a commit that moves the pointer past p0
    AtomicPublish.publishDelta(spark, root,
      append = Map("docs" -> Seq((2L, "b")).toDF("id", "v")),
      parent = Some(p0)).get
    val s0 = staged; val r0 = rebased
    // the loser: staged against the STALE p0, rebased onto the winner
    val txn = AtomicPublish.publishDelta(spark, root,
      append = Map("docs" -> Seq((3L, "c")).toDF("id", "v")),
      parent = Some(p0), rebase = true)
    assert(txn.isDefined, "the lost race must land by rebase")
    assert(staged - s0 == 1, "exactly one staging — no recompute")
    assert(rebased - r0 == 1)
    assert(rows(root) == Set((1L, "a"), (2L, "b"), (3L, "c")))
    // the marker records the TRUE parent (the winner), keeping the
    // commit chain walkable for CDC
    val info = AtomicPublish.commitInfoOf(spark, root, txn.get).get
    assert(info.parent.isDefined && info.parent.get != p0)
  }

  test("without rebase=true the pre-r10 contract holds: lost race = None") {
    val root = freshRoot()
    val p0 = AtomicPublish.publish(spark, root,
      Map("docs" -> Seq((1L, "a")).toDF("id", "v")))
    AtomicPublish.publishDelta(spark, root,
      append = Map("docs" -> Seq((2L, "b")).toDF("id", "v")),
      parent = Some(p0)).get
    assert(AtomicPublish.publishDelta(spark, root,
      append = Map("docs" -> Seq((3L, "c")).toDF("id", "v")),
      parent = Some(p0)).isEmpty)
  }

  /** The VERDICT-r9 scenario: append ∥ predicate overwrite on a
    * disjoint range ∥ tail compaction, all racing from ONE parent —
    * all three land, none recomputes (3 commits, 3 stagings). */
  test("three-way disjoint interleave: append, replaceWhere, tail " +
      "compaction all land from one stale parent without recomputing") {
    val root = freshRoot()
    def day(d: Int, n: Int) = (0 until n)
      .map(i => (d * 100L + i, d)).toDF("id", "day")
    // owner chain [o1..o4], day-stat'd so predicate scoping can prune
    AtomicPublish.publish(spark, root, Map("ev" -> day(1, 4)),
      statsBy = Map("ev" -> Seq("day")))
    def appendDay(d: Int): String =
      AtomicPublish.publishDelta(spark, root,
        append = Map("ev" -> day(d, 4)),
        parent = AtomicPublish.currentTxn(spark, root)).get
    appendDay(2); appendDay(3); appendDay(4)
    val p0 = AtomicPublish.currentTxn(spark, root).get
    val chain0 = AtomicPublish.ownerChainAt(spark, root, "ev", p0)
    assert(chain0.size == 4)
    val s0 = staged; val r0 = rebased

    // writer 1 — ingest append (day 5): lands first, wins the pointer
    AtomicPublish.publishDelta(spark, root,
      append = Map("ev" -> day(5, 4)), parent = Some(p0),
      rebase = true).get
    // writer 2 — replace WHERE day = 1 (admits only o1), staged
    // against the stale p0: rebases over the append
    val repl = Seq((9000L, 1), (9001L, 1)).toDF("id", "day")
    assert(AtomicPublish.replaceOwners(spark, root, "ev",
      keepOwners = chain0.drop(1), tail = repl, parent = p0,
      op = "REPLACE WHERE ev (day = 1)",
      conflictPredicate = Some("day = 1")).isDefined,
      "the disjoint predicate overwrite must land by rebase")
    // writer 3 — tail compaction of [o3, o4], also from the stale p0:
    // rebases over both (its replaced owners are untouched)
    val tail = AtomicPublish.readTableSegments(spark, root, "ev", p0,
      chain0.drop(2))
    assert(AtomicPublish.replaceTail(spark, root, "ev",
      keepOwners = chain0.take(2), tail = tail, parent = p0).isDefined,
      "the tail compaction must land by rebase")

    assert(staged - s0 == 3, "three commits, three stagings — nobody " +
      "re-evaluated its input")
    assert(rebased - r0 == 2)
    val got = AtomicPublish.readTable(spark, root, "ev")
      .select("id", "day").as[(Long, Int)].collect().toSet
    val want = ((2 to 5).flatMap(d => (0 until 4)
      .map(i => (d * 100L + i, d))) ++
      Seq((9000L, 1), (9001L, 1))).toSet
    assert(got == want, "replaced day-1 rows + every surviving day")
  }

  test("overlapping writers still conflict, by name") {
    val root = freshRoot()
    def day(d: Int, n: Int) = (0 until n)
      .map(i => (d * 100L + i, d)).toDF("id", "day")
    AtomicPublish.publish(spark, root, Map("ev" -> day(1, 4)),
      statsBy = Map("ev" -> Seq("day")))
    val p0 = AtomicPublish.currentTxn(spark, root).get
    val chain0 = AtomicPublish.ownerChainAt(spark, root, "ev", p0)
    // winner appends MORE day-1 rows; the stale replace WHERE day = 1
    // can no longer claim exclusivity — refused with the reason named
    AtomicPublish.publishDelta(spark, root,
      append = Map("ev" -> day(1, 2)), parent = Some(p0)).get
    assert(AtomicPublish.replaceOwners(spark, root, "ev",
      keepOwners = Nil, tail = Seq((9000L, 1)).toDF("id", "day"),
      parent = p0, conflictPredicate = Some("day = 1")).isEmpty)
    assert(AtomicPublish.Concurrency.lastConflict
      .contains("may hold rows matching"))

    // two rewrites of the SAME owner: the second is refused by name
    val p1 = AtomicPublish.currentTxn(spark, root).get
    val chain1 = AtomicPublish.ownerChainAt(spark, root, "ev", p1)
    AtomicPublish.replaceOwners(spark, root, "ev",
      keepOwners = chain1.drop(1),
      tail = Seq((9100L, 1)).toDF("id", "day"), parent = p1).get
    assert(AtomicPublish.replaceOwners(spark, root, "ev",
      keepOwners = chain1.drop(1),
      tail = Seq((9200L, 1)).toDF("id", "day"), parent = p1).isEmpty)
    assert(AtomicPublish.Concurrency.lastConflict
      .contains("overlapping write sets"))
  }

  test("a rebase refuses when a table fact moved under the append: " +
      "CHECK constraints, partition spec, drop") {
    val root = freshRoot()
    val p0 = AtomicPublish.publish(spark, root,
      Map("docs" -> Seq((1L, "a")).toDF("id", "v")))
    // winner redefines the table with a CHECK constraint the staged
    // rows were never guarded against
    AtomicPublish.publishDelta(spark, root, append = Map.empty,
      replace = Map("docs" -> Seq((1L, "a")).toDF("id", "v")),
      parent = Some(p0),
      checks = Map("docs" -> Map("pos" -> "id >= 0"))).get
    assert(AtomicPublish.publishDelta(spark, root,
      append = Map("docs" -> Seq((2L, "b")).toDF("id", "v")),
      parent = Some(p0), rebase = true).isEmpty)
    assert(AtomicPublish.Concurrency.lastConflict
      .contains("CHECK constraints changed"))

    val root2 = freshRoot()
    val q0 = AtomicPublish.publish(spark, root2,
      Map("docs" -> Seq((1L, "a")).toDF("id", "v")))
    AtomicPublish.publishDelta(spark, root2, append = Map.empty,
      drop = Seq("docs"), parent = Some(q0)).get
    assert(AtomicPublish.publishDelta(spark, root2,
      append = Map("docs" -> Seq((2L, "b")).toDF("id", "v")),
      parent = Some(q0), rebase = true).isEmpty)
    assert(AtomicPublish.Concurrency.lastConflict
      .contains("dropped concurrently"))
  }

  test("a tombstone append refuses to rebase over a rewritten base " +
      "chain (positional _asof scopes), and deleteRows recovers by " +
      "recompute") {
    val root = freshRoot()
    AtomicPublish.publish(spark, root,
      Map("docs" -> Seq((1L, "a"), (2L, "b")).toDF("id", "v")))
    AtomicPublish.publishDelta(spark, root,
      append = Map("docs" -> Seq((3L, "c")).toDF("id", "v")),
      parent = AtomicPublish.currentTxn(spark, root)).get
    val p0 = AtomicPublish.currentTxn(spark, root).get
    // winner: full compaction REWRITES the base owner chain
    Compaction.compactStore(spark, root, "docs")
    // a delete staged against p0 must NOT land its stale-position
    // scope by rebase…
    assert(AtomicPublish.deleteRowsAt(spark, root, p0,
      Map("docs" -> Seq(2L).toDF("id")), rebase = true).isEmpty)
    assert(AtomicPublish.Concurrency.lastConflict
      .contains("_asof scopes would re-aim"))
    // …but the public loop recovers by recomputing at the new pin
    AtomicPublish.deleteRows(spark, root,
      Map("docs" -> Seq(2L).toDF("id")))
    assert(rows(root) == Set((1L, "a"), (3L, "c")))
  }

  test("a rebased append stays CDC-diffable; a rebased tail " +
      "compaction stays rideable (dataChange=false)") {
    val root = freshRoot()
    AtomicPublish.publish(spark, root,
      Map("docs" -> Seq((1L, "a")).toDF("id", "v")))
    AtomicPublish.publishDelta(spark, root,
      append = Map("docs" -> Seq((2L, "b")).toDF("id", "v")),
      parent = AtomicPublish.currentTxn(spark, root)).get
    val since = AtomicPublish.currentTxn(spark, root).get
    val chain = AtomicPublish.ownerChainAt(spark, root, "docs", since)
    // winner: append o3; loser: a tail compaction of o2 staged at the
    // stale `since`, landing by rebase as a reorganization commit
    AtomicPublish.publishDelta(spark, root,
      append = Map("docs" -> Seq((3L, "c")).toDF("id", "v")),
      parent = Some(since)).get
    val tail = AtomicPublish.readTableSegments(spark, root, "docs",
      since, chain.drop(1))
    assert(AtomicPublish.replaceTail(spark, root, "docs",
      keepOwners = chain.take(1), tail = tail, parent = since).isDefined)
    // the consumer pinned BEFORE the race sees exactly the appended
    // row — the rebased reorganization contributes nothing and does
    // not force a resync
    val diff = AtomicPublish.changesSince(spark, root, "docs", since)
    assert(diff.isDefined, "the chain must stay diffable")
    assert(diff.get.select("id", "v").as[(Long, String)].collect()
      .toSet == Set((3L, "c")))
  }

  test("threaded stress: concurrent rebasing appenders all land with " +
      "one staging each") {
    val root = freshRoot()
    AtomicPublish.publish(spark, root,
      Map("docs" -> Seq((0L, "seed")).toDF("id", "v")))
    val s0 = staged
    val n = 4
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val threads = (1 to n).map { i =>
      new Thread(() => {
        try {
          // every writer pins the SAME parent, so all but one race
          var landed = false
          var attempts = 0
          while (!landed && attempts < n + 1) {
            attempts += 1
            val pin = AtomicPublish.currentTxn(spark, root)
            landed = AtomicPublish.publishDelta(spark, root,
              append = Map("docs" ->
                Seq((i.toLong, s"w$i")).toDF("id", "v")),
              parent = pin, rebase = true).isDefined
          }
          if (!landed) throw new IllegalStateException(s"writer $i " +
            "never landed")
        } catch { case t: Throwable => errs.add(t) }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errs.isEmpty, s"writer failures: $errs")
    assert(rows(root) == (1 to n).map(i => (i.toLong, s"w$i")).toSet +
      ((0L, "seed")))
    // a lost race resolves by rebase, not restaging: each writer
    // staged exactly once (with n writers a commit can lose at most
    // n-1 successive swaps, below the rebase retry bound)
    assert(staged - s0 == n, s"expected $n stagings, got ${staged - s0}")
  }
}
