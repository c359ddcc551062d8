package graft

import java.nio.file.{Files, Path, Paths}
import graft.sources.SnapshotStore
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit, struct}
import org.apache.spark.sql.types.{LongType, MetadataBuilder, StringType}

/** SnapshotStore reads take their schema from one data file's footer
  * instead of Spark's schema-inference job. For every layout the store
  * writes, the schema (and the rows) must be the ones Spark's inference
  * over the same files gives, and building the read must start no job. */
class SnapshotFooterSchemaSpec extends SparkSpec {

  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft_footer_schema_").toString

  private def rows(keys: DataFrame, op: Long): DataFrame =
    keys.select(col("k"))
      .withColumn("g", (col("k") * 2654435761L) % 50021L)
      .withColumn("v", (col("k") * 7919L + lit(op * 104729L)) % 1000003L)

  /** Spark's inferred read of version `v`'s entries (of `sub`, for a
    * group): the read the store made before footer schemas. */
  private def inferred(root: String, ss: SnapshotStore, t: String, v: Long,
      sub: Option[String] = None): DataFrame = {
    val data = Paths.get(root, t, "data")
    val paths = ss.readManifest(t, v).flatMap { e =>
      e.split(":", 2) match {
        case Array(s, p) if sub.contains(s) => Some(p)
        case Array(p) if sub.isEmpty => Some(p)
        case _ => None
      }
    }.map(p => data.resolve(p).normalize().toString)
    spark.read.parquet(paths: _*)
  }

  private def sameRead(footer: DataFrame, infer: DataFrame, what: String): Unit = {
    assert(footer.schema === infer.schema, s"$what: schema differs from inference")
    assert(footer.collect().map(_.toString).sorted.toSeq ===
      infer.collect().map(_.toString).sorted.toSeq, s"$what: rows differ")
  }

  private def sidecar(dir: Path): DataFrame = spark.read.parquet(dir.toString)

  test("footer schema ≡ inferred schema: keyed overwrite, zoned append, " +
    "CoW merge, predicate delete, delete vector, and their sidecars") {
    val root = tmp()
    val ss = new SnapshotStore(spark, root)
    ss.declareBloom("t", "g")
    ss.commitOverwriteKeyed("t", "k", rows(spark.range(0, 400).toDF("k"), 0L),
      numFiles = 4)
    ss.commitAppendZoned("t", rows(spark.range(400, 450).toDF("k"), 1L))
    ss.commitMergeCow("t", "k", rows(Seq(3L, 200L, 460L).toDF("k"), 2L)
      .select(col("k"), lit("update").as("change_type"),
        struct(col("g"), col("v")).as("new_v")))
    ss.commitDeleteWhere("t", "k >= 10 AND k < 20")
    ss.commitDeleteKeys("t", Seq(30L, 31L).toDF("k"))
    assert(ss.versions("t") === (1L to 5L))
    for (v <- 1L to 4L) {
      sameRead(ss.readVersion("t", v), inferred(root, ss, "t", v), s"v$v")
      sameRead(ss.readZones("t", v).get,
        sidecar(Paths.get(root, "t", "zones", s"v$v")), s"v$v zones")
    }
    // the delete-vector version: its data entries and its dels/ sidecar
    assert(ss.readVersion("t", 5L).schema === inferred(root, ss, "t", 5L).schema)
    sameRead(ss.deleteKeysAt("t", 5L).get,
      sidecar(Paths.get(root, "t", "dels", "v5")), "v5 dels")
    assert(ss.readVersion("t", 5L).filter(col("k").isin(30L, 31L)).isEmpty)
  }

  test("footer schema ≡ inferred schema: group subs, an empty version, " +
    "and a cross-table clone reference; an evolved table keeps its pin") {
    val root = tmp()
    val ss = new SnapshotStore(spark, root)
    ss.commitTables("g", overwrites = Map(
      "data" -> spark.range(5).toDF("id"),
      "meta" -> graft.ops.RelOps.localLongRow(spark, "src_v" -> 1L)))
    for (sub <- Seq("data", "meta"))
      sameRead(ss.readTableVersion("g", 1L, sub),
        inferred(root, ss, "g", 1L, Some(sub)), s"group sub $sub")

    // Spark's empty write: one schema-bearing file with no rows
    ss.commitOverwrite("e", spark.range(10).filter(col("id") > 100)
      .select(col("id").as("k"), col("id").cast("string").as("v")))
    sameRead(ss.readVersion("e", 1L), inferred(root, ss, "e", 1L), "empty")

    // the clone's own append sorts BEFORE the source's files once the
    // `../../src/data/...` reference is resolved, so inference reads the
    // append's footer, whose column carries metadata the source lacks
    ss.commitOverwrite("src", spark.range(1).select(col("id").as("k"),
      lit("a").as("v")))
    ss.cloneTable("dst", "src")
    val tagged = new MetadataBuilder().putString("comment", "dst").build()
    ss.commitAppend("dst", spark.range(2, 3).select(col("id").as("k"),
      lit("b").as("v", tagged)))
    assert(ss.readManifest("dst", 2L).exists(_.startsWith("../../src/")))
    sameRead(ss.readVersion("dst", 2L), inferred(root, ss, "dst", 2L), "clone")
    assert(ss.readVersion("dst", 2L).schema("v").metadata === tagged)

    // evolved: the version's pinned schema wins over any footer
    ss.commitOverwrite("ev", Seq((1L, 1)).toDF("k", "x"))
    ss.commitAppendEvolved("ev", Seq((2L, 2L, "n")).toDF("k", "x", "y"))
    sameRead(ss.readVersion("ev", 1L), inferred(root, ss, "ev", 1L), "pre-evolution")
    assert(ss.readVersion("ev", 2L).schema.map(f => (f.name, f.dataType)) ===
      Seq(("k", LongType), ("x", LongType), ("y", StringType)))
    assert(ss.readVersion("ev", 2L).orderBy("k").collect().map(_.toSeq).toSeq ===
      Seq(Seq(1L, 1L, null), Seq(2L, 2L, "n")))
  }

  test("building a versioned read starts no Spark job; with mergeSchema " +
    "on, reads fall back to Spark's inference") {
    val root = tmp()
    val ss = new SnapshotStore(spark, root)
    ss.declareBloom("t", "g")
    ss.commitOverwriteKeyed("t", "k", rows(spark.range(0, 400).toDF("k"), 0L),
      numFiles = 4)
    ss.commitAppendZoned("t", rows(spark.range(400, 450).toDF("k"), 1L))
    ss.commitDeleteKeys("t", Seq(30L, 31L).toDF("k"))
    ss.commitTables("g", overwrites = Map(
      "data" -> spark.range(5).toDF("id"),
      "meta" -> graft.ops.RelOps.localLongRow(spark, "src_v" -> 1L)))
    val g = rows(Seq(77L).toDF("k"), 0L).select("g").as[Long].head()
    val sc = spark.sparkContext
    val reads: Seq[(String, () => DataFrame)] = Seq(
      "readVersion" -> (() => ss.readVersion("t", 3L)),
      "readVersionWhere" -> (() => ss.readVersionWhere("t", 3L, "k", 100L, 199L)),
      "readVersionPoint" -> (() => ss.readVersionPoint("t", 3L, "g", Seq(g))),
      "readTableVersion" -> (() => ss.readTableVersion("g", 1L, "data")),
      "changesBetween" -> (() => ss.changesBetween("t", 1L, 2L)))
    for ((what, read) <- reads) {
      val (df, jobs) = JobCounter(sc)(read())
      assert(jobs.isEmpty, s"$what started jobs $jobs")
      df.collect()
    }
    assert(ss.readVersionWhere("t", 3L, "k", 100L, 199L).count() === 100L)
    assert(ss.readVersionPoint("t", 3L, "g", Seq(g)).select("k").as[Long]
      .collect().toSeq === Seq(77L))

    withSQLConf("spark.sql.parquet.mergeSchema" -> "true") {
      val (df, jobs) = JobCounter(sc)(ss.readVersion("t", 2L))
      assert(jobs.nonEmpty, "mergeSchema: the read did not infer")
      assert(df.schema === inferred(root, ss, "t", 2L).schema)
    }
  }
}
