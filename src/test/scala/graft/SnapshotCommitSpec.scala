package graft

import java.nio.file.{Files, LinkOption, Path}

import scala.jdk.CollectionConverters._

import graft.sources.{ConcurrentCommitException, SnapshotStore, SubBucket}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** The failure contract of every SnapshotStore commit kind: a commit that
  * throws after claiming its version leaves the table as it was — its own
  * exception propagates, no claim and nothing named for the version stays
  * behind, and the next commit takes that version without a conflict. One
  * case per commit kind; each fails after the claim, either in its batch
  * (a `raise_error` row), in a CHECK that raises on a row the commit
  * rewrites, or at a later step blocked by a file planted where the
  * version's sidecar lands. */
class SnapshotCommitSpec extends SparkSpec {

  import spark.implicits._

  private final case class Ctx(ss: SnapshotStore, root: Path)

  /** `setup` builds the table, `fail` is the failing commit (`boom`
    * tells whether the thrown exception is its own), `next` is the retried
    * commit that must take the failed version with `onConflict` never
    * called, and `gone` names extra paths (under the table dir) that must
    * not survive the failure. */
  private final case class Case(kind: String, table: String,
      setup: Ctx => Unit, fail: Ctx => Any, next: (Ctx, Int => Unit) => Long,
      boom: Throwable => Boolean = raisedBoom, gone: Seq[String] = Nil)

  private def rows(lo: Long, hi: Long): DataFrame =
    spark.range(lo, hi).select(col("id").as("k"), (col("id") * 10).as("v"))

  /** A batch whose write throws on one row, after the commit claimed. */
  private def bad: DataFrame = spark.range(200, 220).selectExpr("id AS k",
    "CASE WHEN id = 207 THEN raise_error('boom') ELSE id * 10 END AS v")

  private def raisedBoom(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .exists(t => Option(t.getMessage).exists(_.contains("boom")))

  private def conflict(e: Throwable): Boolean =
    e.isInstanceOf[ConcurrentCommitException]

  /** A step refused to write through a planted plain file. */
  private def blocked(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).exists(t =>
      t.isInstanceOf[IllegalArgumentException] ||
        t.isInstanceOf[java.io.IOException])

  /** A CHECK that raises on k = 7: every commit that writes that row
    * fails in its staging pass. Planted as the marker file, because
    * addCheck would refuse it on content that already holds k = 7. */
  private def plantCheck(c: Ctx, t: String): Unit =
    Files.write(c.root.resolve(s"$t/meta/check.boom"),
      "CASE WHEN k = 7 THEN raise_error('boom') ELSE true END\n".getBytes)

  /** A plain file where version `v`'s zone stats are copied to. */
  private def blockZones(c: Ctx, t: String, v: Long): Unit = {
    Files.createDirectories(c.root.resolve(s"$t/zones"))
    Files.write(c.root.resolve(s"$t/zones/v$v"), "blocker".getBytes)
  }

  private def appendNext(t: String): (Ctx, Int => Unit) => Long =
    (c, onConflict) => c.ss.commitAppendRetry(t, rows(100, 105),
      onConflict = onConflict)

  private def plain(c: Ctx): Unit = c.ss.commitOverwrite("t", rows(0, 20))
  private def keyed(c: Ctx): Unit =
    c.ss.commitOverwriteKeyed("t", "k", rows(0, 20), numFiles = 2)

  private val cases = Seq(
    Case("commitOverwrite", "t", plain, _.ss.commitOverwrite("t", bad),
      appendNext("t")),
    Case("commitOverwriteAt", "t", plain,
      _.ss.commitOverwriteAt("t", 1L, bad), appendNext("t")),
    Case("stageOverwriteAt", "t", plain,
      _.ss.stageOverwriteAt("t", 1L, bad), appendNext("t")),
    Case("commitAppend", "t", plain, _.ss.commitAppend("t", bad),
      appendNext("t")),
    Case("commitAppendEvolved", "t", plain,
      _.ss.commitAppendEvolved("t", bad.selectExpr("*", "1 AS w")),
      appendNext("t")),
    Case("stageAppend", "t", plain, _.ss.stageAppend("t", bad),
      appendNext("t")),
    Case("stageAppend, zones copy blocked", "t",
      c => { keyed(c); blockZones(c, "t", 2L) },
      _.ss.stageAppend("t", rows(100, 105)), appendNext("t"),
      blocked),
    Case("commitOverwriteKeyed", "t", plain,
      _.ss.commitOverwriteKeyed("t", "k", bad, numFiles = 2),
      appendNext("t")),
    Case("commitAppendZoned", "t", keyed,
      _.ss.commitAppendZoned("t", bad), appendNext("t")),
    Case("commitDeleteKeys", "t", plain,
      _.ss.commitDeleteKeys("t", spark.range(0, 20).selectExpr(
        "CASE WHEN id = 7 THEN raise_error('boom') ELSE id END AS k")),
      appendNext("t")),
    Case("commitDeleteKeys, zones copy blocked", "t",
      c => { keyed(c); blockZones(c, "t", 2L) },
      _.ss.commitDeleteKeys("t", Seq(3L).toDF("k")), appendNext("t"),
      blocked),
    Case("commitOverwriteZordered", "t", plain,
      _.ss.commitOverwriteZordered("t", Seq("k", "v"), bad, numFiles = 2),
      appendNext("t")),
    Case("commitTables", "g",
      _.ss.commitTables("g", overwrites = Map("a" -> rows(0, 20))),
      _.ss.commitTables("g", appends = Map("a" -> bad)),
      (c, onConflict) => c.ss.retryCommit(onConflict = onConflict)(
        c.ss.commitTables("g", appends = Map("a" -> rows(100, 105))))),
    Case("commitTables, first bucketed commit", "g", _ => (),
      _.ss.commitTables("g", overwrites = Map("b" -> bad),
        buckets = Map("b" -> SubBucket("k", 4))),
      // the failed commit's layout went with it: another one is accepted
      (c, onConflict) => c.ss.retryCommit(onConflict = onConflict)(
        c.ss.commitTables("g", overwrites = Map("b" -> rows(100, 105)),
          buckets = Map("b" -> SubBucket("k", 8)))),
      gone = Seq("meta/_bucket__b")),
    Case("commitMergeCow", "t", c => { keyed(c); plantCheck(c, "t") },
      _.ss.commitMergeCow("t", "k", spark.range(5, 10).selectExpr("id AS k",
        "'update' AS change_type", "named_struct('v', id * 3) AS new_v")),
      appendNext("t")),
    Case("commitUpdateWhere", "t", keyed,
      _.ss.commitUpdateWhere("t", "k < 10",
        Map("v" -> "CASE WHEN k = 7 THEN raise_error('boom') ELSE v + 1 END")),
      appendNext("t")),
    Case("rollback, zones copy blocked", "t",
      c => { keyed(c); c.ss.commitOverwrite("t", rows(50, 60))
        blockZones(c, "t", 3L) },
      _.ss.rollback("t", 1L), appendNext("t"), conflict),
    Case("compactKeyed", "t", c => { keyed(c); plantCheck(c, "t") },
      _.ss.compactKeyed("t", "k", numFiles = 2), appendNext("t")),
    Case("compactDeleteKeys", "t",
      c => { keyed(c); c.ss.commitDeleteKeys("t", Seq(3L).toDF("k"))
        plantCheck(c, "t") },
      _.ss.compactDeleteKeys("t"),
      (c, onConflict) => c.ss.commitDeleteKeysRetry("t", Seq(4L).toDF("k"),
        onConflict = onConflict)),
    Case("optimizeSmallFiles", "t",
      c => { c.ss.commitOverwrite("t", rows(0, 10))
        c.ss.commitAppend("t", rows(10, 20)); plantCheck(c, "t") },
      _.ss.optimizeSmallFiles("t"), appendNext("t")),
    Case("optimizeClustering", "t",
      c => { keyed(c); c.ss.commitAppendZoned("t", rows(5, 15))
        plantCheck(c, "t") },
      _.ss.optimizeClustering("t"), appendNext("t")),
    Case("commitFromTable", "t",
      c => { c.ss.commitOverwrite("src", rows(0, 20))
        c.ss.commitOverwrite("t", rows(100, 110)); plantCheck(c, "t") },
      _.ss.commitFromTable("t", "src"), appendNext("t")),
    // the clone's zone sidecar cannot land under a plain file `zones`;
    // the CHECK it copied must not outlive the never-committed table
    Case("cloneTable, zones write blocked", "dst",
      c => { keyed(c); c.ss.addCheck("t", "pos", "v >= 0")
        Files.createDirectories(c.root.resolve("dst"))
        Files.write(c.root.resolve("dst/zones"), "blocker".getBytes) },
      _.ss.cloneTable("dst", "t"), (c, onConflict) =>
        c.ss.retryCommit(onConflict = onConflict)(
          c.ss.commitOverwrite("dst", rows(0, 5).selectExpr("k", "-v AS v"))),
      blocked, gone = Seq("meta/check.pos"))
  )

  /** Every path under the table dir named for version `v`. */
  private def leftovers(c: Ctx, t: String, v: Long): Seq[String] = {
    val td = c.root.resolve(t)
    def list(d: Path): Seq[String] =
      if (!Files.isDirectory(d)) Nil
      else { val s = Files.list(d)
        try s.iterator().asScala.map(_.getFileName.toString).toList
        finally s.close() }
    Seq(s"data/v$v", s"zones/v$v", s"dels/v$v", s"meta/v$v",
        s"meta/v$v.schema", s"meta/_claims/v$v")
      .filter(p => Files.exists(td.resolve(p), LinkOption.NOFOLLOW_LINKS)) ++
      list(td.resolve("data")).filter(_.startsWith(s"v${v}__"))
        .map(d => s"data/$d")
  }

  cases.foreach { k =>
    test(s"a failed ${k.kind} leaves its table as it was and the next " +
        "commit takes its version") {
      val root = Files.createTempDirectory("snapcommit_")
      val ctx = Ctx(new SnapshotStore(spark, root.toString), root)
      try {
        k.setup(ctx)
        val cur = ctx.ss.currentVersion(k.table)
        val n = cur + 1
        val e = intercept[Throwable](k.fail(ctx))
        assert(k.boom(e), s"not the commit's own exception: $e")
        assert(ctx.ss.currentVersion(k.table) === cur)
        assert(ctx.ss.releaseDeadClaims(k.table) === Nil)
        assert(leftovers(ctx, k.table, n) === Nil)
        k.gone.foreach(p => assert(
          !Files.exists(root.resolve(k.table).resolve(p)), s"$p left"))
        var conflicts = 0
        assert(k.next(ctx, _ => conflicts += 1) === n)
        assert(conflicts === 0)
      } finally ctx.ss.dropCatalogTables(k.table)
    }
  }

  test("a commit that loses its claim undoes nothing: the number and " +
      "what the winner staged under it stay the winner's") {
    val root = Files.createTempDirectory("snapcommit_lost_").toString
    val ss = new SnapshotStore(spark, root)
    val winner = new SnapshotStore(spark, root)
    ss.commitOverwrite("t", rows(0, 20))
    val v = winner.stageAppend("t", rows(20, 25))
    intercept[ConcurrentCommitException](ss.commitAppend("t", rows(30, 35)))
    assert(winner.publishStaged("t", v) === 2L)
    assert(ss.readCurrent("t").count() === 25L)
  }
}
