package graft

/** Query-plan snapshot ledger: digests every driver query's physical plan
  * so a Catalyst-visible regression — a lost pushdown, a new exchange, a
  * broadcast that became a sort-merge — diffs LOUDLY between rounds even
  * when timings are too noisy to flag it. PlanSpec pins ~30 load-bearing
  * plan properties; this covers the other ~200 queries with a cheap
  * change-detector (a digest flip is a prompt to eyeball the dumped plan,
  * not a failure by itself).
  *
  * Usage: scripts/run.sh graft.PlanDigest [sfDir] [digestFile] [dumpDir]
  * Writes one `name\tsha256` line per query (sorted) to digestFile —
  * commit it; `git diff` then names exactly the queries whose plans
  * changed — and the full normalized plan text per query under dumpDir
  * (gitignored) for the eyeball step.
  *
  * Plans are captured UNEXECUTED (AQE plans digest their initial
  * physical plan): planning is milliseconds per query, and the
  * planning-time properties are what this ledger guards. Side-effecting
  * queries (the withTempTableSummary family) still run their builds —
  * their returned frame is a collected local relation, which digests
  * stably. Run-varying tokens (expression ids, plan ids, temp paths,
  * codegen ids, RDD numbers) are normalized away.
  */
object PlanDigest {

  /** Split on top-level ", " (bracket-depth aware), sort, rejoin — for
    * lists whose ORDER Catalyst assigns hash-dependently. */
  private def sortTopLevel(s: String): String = {
    val parts = scala.collection.mutable.ArrayBuffer[String]()
    val sb = new StringBuilder
    var depth = 0
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '(' || c == '[') depth += 1
      if (c == ')' || c == ']') depth -= 1
      if (depth == 0 && c == ',' && i + 1 < s.length && s.charAt(i + 1) == ' ') {
        parts += sb.toString; sb.clear(); i += 2
      } else { sb.append(c); i += 1 }
    }
    parts += sb.toString
    parts.sorted.mkString(", ")
  }

  /** Canonicalize the bracketed list following `marker` in `line`. */
  private def canonList(line: String, marker: String): String = {
    val idx = line.indexOf(marker)
    if (idx < 0) return line
    val start = idx + marker.length
    var depth = 1
    var j = start
    while (j < line.length && depth > 0) {
      val c = line.charAt(j)
      if (c == '[' || c == '(') depth += 1
      else if (c == ']' || c == ')') depth -= 1
      j += 1
    }
    line.substring(0, start) + sortTopLevel(line.substring(start, j - 1)) +
      line.substring(j - 1)
  }

  /** Multi-distinct aggregates get `gid` group numbers from a hash-ordered
    * rewrite (RewriteDistinctAggregates) — the SAME query plans with gids
    * 1/2 swapped run to run. On gid-bearing lines only: wipe the gid
    * literals, then sort the Expand rows and aggregate-function/output
    * lists so both orderings digest identically. */
  private def canonGid(plan: String): String =
    plan.split("\n", -1).map { line =>
      if (!line.contains("gid#_")) line
      else {
        val wiped = line.replaceAll("gid#_ = \\d+", "gid#_ = _")
          .replaceAll("(?<=, )\\d+(?=,)", "_")
        Seq("functions=[", "output=[", "Expand [")
          .foldLeft(wiped)(canonList)
      }
    }.mkString("\n")

  def normalize(plan: String): String = canonLambdaVars(canonGid(plan
    .replaceAll("#\\d+[A-Za-z]*", "#_")          // expression ids
    .replaceAll("plan_id=\\d+", "plan_id=_")
    .replaceAll("\\[id=#_\\]", "[id=_]")
    .replaceAll("(?i)file:[^\\s,\\]\\)]+", "PATH")
    .replaceAll("/[^\\s,\\]\\)]*(tmp|testdata|warehouse)[^\\s,\\]\\)]*", "PATH")
    .replaceAll("InMemoryFileIndex\\([^)]*\\)", "InMemoryFileIndex(_)")
    .replaceAll("@[0-9a-f]{6,}", "@_")           // object addresses
    .replaceAll("\\$\\$Lambda\\$?\\d*/0x[0-9a-f]+", "\\$\\$Lambda\\$_")
    // a lambda's identity hashCode can be SHORTER than the 6-hex bound
    // above (`Lambda$_@b8170` — the r17-pinned x117b flip's varying
    // token); scrub any hex run after the normalized lambda marker
    .replaceAll("Lambda\\$_@[0-9a-f]+", "Lambda\\$_@_")
    .replaceAll("\\*\\(\\d+\\)", "*(_)")         // codegen stage ids
    .replaceAll("ExistingRDD\\b[^\\n]*", "ExistingRDD _")
    .replaceAll("Statistics\\([^)]*\\)", "Statistics(_)")
    .replaceAll("cachedrdd-\\d+", "cachedrdd-_")
    .replaceAll("Observation\\([^)]*\\)", "Observation(_)")))

  /** Higher-order-function variables carry a GLOBAL per-session counter
    * (`lambda x_173`), so which queries ran earlier in the digest
    * session shifts the numbers — pure run-order noise (bit round 12:
    * adding queries early in the alphabet flipped 30+ digests of
    * untouched lambda-using queries). Renumber each distinct variable to
    * its first-occurrence index WITHIN the plan — deterministic, and
    * unlike a blanket wipe it preserves which of two same-named
    * variables an expression references (a Catalyst rewrite that flips
    * an inner/outer variable reference still flips the digest). */
  private def canonLambdaVars(plan: String): String = {
    val re = "lambda ([A-Za-z0-9]+)_(\\d+)".r
    val seen = scala.collection.mutable.LinkedHashMap[String, Int]()
    re.replaceAllIn(plan, m => {
      val idx = seen.getOrElseUpdate(m.group(1) + "_" + m.group(2), seen.size)
      s"lambda ${m.group(1)}_$idx"
    })
  }

  private def sha256(s: String): String = {
    val d = java.security.MessageDigest.getInstance("SHA-256")
    d.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(16)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val outFile = args.lift(1).getOrElse("PLAN_DIGESTS.txt")
    val dumpDir = args.lift(2).getOrElse("target/plan_dump")
    // PLAN_DIGESTS.txt was recorded on local[32]: the core count sets the
    // shuffle partitions and range splits printed in every plan, so it is
    // fixed here rather than read from the host
    val spark = GraftSession.local(32)
    // FileScan metadata (DataFilters/PushedFilters/...) is truncated to
    // spark.sql.maxMetadataStringLength RAW chars — so the cut point
    // depends on expression-id WIDTH, which the global exprId counter
    // (run-order) shifts. bit round 14: two untouched queries' digests
    // flipped because new queries earlier in the run pushed their raw
    // `user_id#12345` one digit wider, moving the `...`. Lift the limit
    // so metadata is captured whole; normalize() then makes it
    // width-independent. (Same class as the lambda-counter fix below:
    // remove run-order noise at the source, never hand-edit the ledger.)
    spark.conf.set("spark.sql.maxMetadataStringLength", "100000")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dumpDir))
    val lines = SparkEntry.queries.toSeq.sortBy(_._1).map {
      case (name, build) =>
        val (digest, text) =
          try {
            val norm = normalize(
              build(spark, sfDir).queryExecution.executedPlan.toString)
            (sha256(norm), norm)
          } catch {
            case e: Throwable =>
              (s"ERROR:${e.getClass.getSimpleName}", e.toString)
          }
        java.nio.file.Files.write(
          java.nio.file.Paths.get(dumpDir, s"$name.txt"),
          text.getBytes("UTF-8"))
        // release any checkpoint blocks the build pinned
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = false))
        s"$name\t$digest"
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      (lines.mkString("\n") + "\n").getBytes("UTF-8"))
    println(s"PLAN_DIGESTS: ${lines.size} queries -> $outFile (dump: $dumpDir)")
    archiveFlips(lines, dumpDir)
    spark.stop()
  }

  /** r16 (verdict #7): dump-on-mismatch ARCHIVE — the capture rule the
    * r12/r15 digest flakes (x117b/x34f one-off flips, neither dump
    * kept) demanded. Any query whose fresh digest disagrees with the
    * COMMITTED ledger gets its normalized plan text copied
    * digest-keyed under `plan_flips/` — so a one-off flip leaves the
    * flipped text behind for token-class analysis instead of
    * evaporating with the run (the stable side reproduces on demand;
    * the flipped side was the unreproducible one). Digest-keyed names
    * accumulate BOTH sides across runs; existing archives are never
    * overwritten. The r15 watch-listed queries archive
    * unconditionally, seeding their stable side. No-op when no ledger
    * is committed. */
  private def archiveFlips(lines: Seq[String], dumpDir: String): Unit = {
    import java.nio.file.{Files, Paths}
    val committed = Paths.get("PLAN_DIGESTS.txt")
    if (!Files.exists(committed)) return
    import scala.jdk.CollectionConverters._
    val prior = Files.readAllLines(committed).asScala
      .map(_.split("\t")).collect { case Array(n, d) => n -> d }.toMap
    val watch = Set("x117b_ewma_parity", "x34f_audio_neardup")
    val toArchive = lines.map(_.split("\t")).collect {
      case Array(n, d) if watch(n) || prior.get(n).exists(_ != d) => (n, d)
    }
    if (toArchive.nonEmpty) {
      val fd = Paths.get("plan_flips")
      Files.createDirectories(fd)
      var archived = 0
      toArchive.foreach { case (n, d) =>
        val src = Paths.get(dumpDir, s"$n.txt")
        val dst = fd.resolve(s"$n.${d.replace(":", "_")}.txt")
        if (Files.exists(src) && !Files.exists(dst)) {
          Files.copy(src, dst); archived += 1
        }
      }
      val flipped = toArchive.count { case (n, d) =>
        prior.get(n).exists(_ != d) }
      if (archived > 0 || flipped > 0)
        println(s"PLAN_DIGESTS: $flipped digest(s) differ from the " +
          s"committed ledger; $archived plan text(s) archived under " +
          "plan_flips/ (digest-keyed, both sides accumulate)")
    }
  }
}
