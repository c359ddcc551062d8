package graft

import java.nio.file.Files
import graft.sources.TableStore

/** TableStore.read takes the data schema from a parquet footer instead of
  * Spark's schema-inference job: it must return the schema inference
  * would, for every layout the store writes, and start no job. */
class TableStoreSpec extends SparkSpec {

  test("read: footer schema ≡ spark.read.parquet(dir).schema for every " +
    "layout the store writes, and read itself starts no job") {
    import spark.implicits._
    val store = new TableStore(spark,
      Files.createTempDirectory("graft_read_schema_").toString)
    // leading-zero codes: partition type inference turns "01" into 1 on
    // both paths; the footer path must not see the partition column at all
    val df = Seq((1L, "a", 1.5, "01"), (2L, "b", 2.5, "02"), (3L, "c", 3.5, "01"))
      .toDF("k", "v", "x", "code")
    val more = Seq((4L, "d", 4.5, "03")).toDF("k", "v", "x", "code")
    store.createIfNotExists("empty", df.schema)
    store.overwrite("flat", df)
    store.overwrite("keyed", df)
    store.appendKeyed("keyed", "k", more)
    store.overwritePartitioned("part", df, Seq("code"))
    store.overwritePartitioned("part_compacted", df, Seq("code"))
    store.compact("part_compacted")
    store.overwrite("compacted", df)
    store.appendKeyed("compacted", "k", more)
    store.compact("compacted")
    try {
      store.overwriteBucketed("read_schema_bucketed", df, "k", 4)
      for (t <- Seq("empty", "flat", "keyed", "part", "part_compacted",
                    "compacted", "read_schema_bucketed")) {
        val (read, jobs) = JobCounter(spark.sparkContext)(store.read(t))
        assert(jobs.isEmpty, s"$t: read started jobs $jobs")
        assert(read.schema === spark.read.parquet(store.path(t)).schema,
          s"$t: footer schema differs from the inferred one")
      }
      assert(store.read("part").schema.fieldNames.last === "code")
      assert(store.read("part").schema("code").dataType ===
        org.apache.spark.sql.types.IntegerType)
      assert(store.read("keyed").count() === 4L)
    } finally spark.sql("DROP TABLE IF EXISTS read_schema_bucketed")
  }

  test("read of a missing table still fails as an inferred read does") {
    val store = new TableStore(spark,
      Files.createTempDirectory("graft_read_missing_").toString)
    val e = intercept[org.apache.spark.sql.AnalysisException](store.read("nope"))
    assert(e.getMessage.contains("PATH_NOT_FOUND") ||
      e.getMessage.contains("does not exist"))
  }

  test("appendKeyed returns the rows it appended, observed on its own " +
    "pass: new, all-duplicate and empty batches, one or many partitions") {
    import spark.implicits._
    val store = new TableStore(spark,
      Files.createTempDirectory("graft_append_count_").toString)
    store.overwrite("t", Seq((1L, "a")).toDF("k", "v"))
    def batch(keys: Seq[Long], parts: Int) =
      keys.map(k => (k, s"v$k")).toDF("k", "v").repartition(parts)
    assert(store.appendKeyed("t", "k", batch(1L to 40L, 4)) === 39L)
    assert(store.appendKeyed("t", "k", batch(1L to 40L, 4)) === 0L)
    assert(store.appendKeyed("t", "k", batch(1L to 40L, 1)) === 0L)
    assert(store.appendKeyed("t", "k", batch(Nil, 4)) === 0L)
    assert(store.appendKeyed("t", "k", batch(Seq(7L, 41L, 41L), 2)) === 1L)
    assert(store.read("t").count() === 41L)
  }
}
