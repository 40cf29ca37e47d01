package graft.ops

import graft.SharedSpark
import graft.tables.ManagedTable
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** SQL DML over graft tables ([[graft.plans.ResolveGraftTables]]):
  * INSERT plans Spark's V2 write onto the catalog table; DELETE / UPDATE
  * / MERGE route to the ManagedTable row-level API as eager
  * [[graft.plans.GraftDmlCommand]]s — .explain must not mutate,
  * unsupported shapes must fail at analysis.
  */
class GraftSqlDmlSpec extends AnyFunSuite with SharedSpark {

  test("INSERT / DELETE / UPDATE / MERGE statements drive the MoR DML path") {
    val base = spark
    org.apache.spark.sql.SparkSession.clearActiveSession()
    org.apache.spark.sql.SparkSession.clearDefaultSession()
    try {
      val b = org.apache.spark.sql.SparkSession.builder()
        .master(base.sparkContext.master)
        .withExtensions(new graft.GraftExtensions().apply(_))
      base.conf.getAll.foreach { case (k, v) => b.config(k, v) }
      val s2 = b.getOrCreate()
      import s2.implicits._
      val wh = java.nio.file.Files.createTempDirectory("graft-sqldml").toString
      s2.conf.set("spark.graft.warehouse", wh)
      // v is nullable (Option), id is NOT NULL (primitive Long)
      val df = Seq((1L, "alice", Option(10.0)), (2L, "bob", Option(20.0)))
        .toDF("id", "name", "v")
      val t = ManagedTable.create(s2, wh, "people", df.schema, Seq("id"))
      t.append(df)
      // the SQL commands commit through their own table handles — reload
      // for every read so assertions see the latest pointer
      def cur = ManagedTable.load(s2, wh, "people").get.read()

      // INSERT INTO (positional VALUES)
      s2.sql("INSERT INTO graft.people VALUES (3, 'carol', 30.0), (4, 'dan', 40.0)")
      assert(cur.count() == 4)
      // INSERT with a column list fills the rest with nulls
      s2.sql("INSERT INTO graft.people (id, name) SELECT 5, 'eve'")
      assert(cur.where(col("id") === 5).select("v").head().isNullAt(0))
      // …but never with a null for a NOT NULL column
      val eNull = intercept[Exception] {
        s2.sql("INSERT INTO graft.people (name, v) SELECT 'nokey', 1.0") }
      assert(eNull.getMessage.contains("CANNOT_FIND_DATA"), eNull.getMessage)
      assert(cur.count() == 5)

      // .explain on a DML statement must NOT run it: INSERT plans Spark's
      // V2 write node (the same one `<cat>.people` plans), and neither it
      // nor an EXPLAIN CALL changes the rows or commits a version
      def versions = ManagedTable.load(s2, wh, "people").get.versions()
      val versionsBefore = versions
      val plan = s2.sql("EXPLAIN INSERT INTO graft.people VALUES (6, 'fay', 60.0)")
        .head().getString(0)
      assert(plan.contains("AppendData") && !plan.contains("GraftDmlCommand"), plan)
      s2.sql("EXPLAIN CALL graft.system.compact('people')").collect()
      assert(cur.count() == 5)
      assert(versions == versionsBefore)

      // UPDATE with alias + qualified references
      s2.sql("UPDATE graft.people AS p SET v = p.v * 2 WHERE p.name = 'bob'")
      assert(cur.where(col("id") === 2).select("v").head().getDouble(0) == 40.0)

      // DELETE
      s2.sql("DELETE FROM graft.people WHERE id >= 4")
      assert(cur.select("id").as[Long].collect().toSet == Set(1L, 2L, 3L))

      // MERGE: update + delete + insert through one statement
      Seq((1L, "alice2", 11.0), (2L, "bob", -1.0), (9L, "zoe", 90.0))
        .toDF("id", "name", "v").createOrReplaceTempView("changes")
      s2.sql("""MERGE INTO graft.people AS t USING changes AS s ON t.id = s.id
        |WHEN MATCHED AND s.v < 0 THEN DELETE
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      val got = cur.select("id", "name", "v").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
      assert(got == Set((1L, "alice2", 11.0), (3L, "carol", 30.0), (9L, "zoe", 90.0)))

      // first-match-wins holds when an earlier clause's condition is
      // UNKNOWN: a NULL s.v must fall through DELETE into UPDATE
      Seq((1L, "nullv", null.asInstanceOf[java.lang.Double]))
        .toDF("id", "name", "v").createOrReplaceTempView("nullchg")
      s2.sql("""MERGE INTO graft.people AS t USING nullchg AS s ON t.id = s.id
        |WHEN MATCHED AND s.v < 0 THEN DELETE
        |WHEN MATCHED THEN UPDATE SET t.name = s.name""".stripMargin)
      assert(cur.where(col("id") === 1).select("name").head().getString(0) == "nullv",
        "NULL delete-condition must fall through to UPDATE, not mask it")

      // alias names colliding with the fixed t/s qualifiers (or swapped)
      // must remap capture-free: target AS s, source AS t
      Seq((3L, "carol3", 33.0)).toDF("id", "name", "v")
        .createOrReplaceTempView("swapchg")
      s2.sql("""MERGE INTO graft.people AS s USING swapchg AS t ON s.id = t.id
        |WHEN MATCHED THEN UPDATE SET s.name = t.name""".stripMargin)
      assert(cur.where(col("id") === 3).select("name").head().getString(0) == "carol3",
        "swapped t/s aliases corrupted the remap")

      // a one-sided ON equality (t.id = t.id) is refused, not silently
      // executed as the identifier join
      val e0 = intercept[Exception] {
        s2.sql("""MERGE INTO graft.people AS t USING changes AS s ON t.id = t.id
          |WHEN MATCHED THEN DELETE""".stripMargin)
      }
      assert(e0.getMessage.contains("references one side twice"), e0.getMessage)

      // unsupported MERGE shapes fail at analysis with clear messages
      val e1 = intercept[Exception] {
        s2.sql("""MERGE INTO graft.people AS t USING changes AS s ON t.v = s.v
          |WHEN MATCHED THEN DELETE""".stripMargin)
      }
      assert(e1.getMessage.contains("identifier columns"))
      val e2 = intercept[Exception] {
        s2.sql("""MERGE INTO graft.people AS t USING changes AS s ON t.id = s.id
          |WHEN NOT MATCHED THEN INSERT (id, name) VALUES (s.id, s.name)""".stripMargin)
      }
      assert(e2.getMessage.contains("INSERT *"))

      // INSERT OVERWRITE honors Spark's partition-overwrite mode
      val pdf = Seq((1L, "a", 1), (2L, "b", 2)).toDF("id", "name", "g")
      val pt = ManagedTable.create(s2, wh, "pt", pdf.schema, Seq.empty, Seq("g"))
      pt.append(pdf)
      s2.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      s2.sql("INSERT OVERWRITE graft.pt VALUES (9, 'z', 2)")
      def curPt = ManagedTable.load(s2, wh, "pt").get.read()
      assert(curPt.where(col("g") === 1).count() == 1, "untouched partition lost")
      assert(curPt.where(col("g") === 2).select("name").head().getString(0) == "z")
      s2.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
      s2.sql("INSERT OVERWRITE graft.pt VALUES (5, 'w', 3)")
      assert(curPt.count() == 1, "static mode must replace the whole table")

      // INSERT ... PARTITION (static spec): values become literal columns,
      // positional arity excludes the named partition columns
      s2.sql("INSERT INTO graft.pt PARTITION (g=7) VALUES (70, 'p70')")
      assert(curPt.where(col("g") === 7).select("id").head().getLong(0) == 70)
      // static OVERWRITE replaces exactly the named partition
      s2.sql("INSERT OVERWRITE graft.pt PARTITION (g=7) VALUES (71, 'p71')")
      assert(curPt.where(col("g") === 7).count() == 1)
      assert(curPt.where(col("g") === 7).select("name").head().getString(0) == "p71")
      assert(curPt.where(col("g") === 3).count() == 1, "other partitions untouched")
      // static OVERWRITE with an empty source TRUNCATES the named
      // partition (SQL static semantics — dynamic overwrite would no-op)
      s2.sql("INSERT OVERWRITE graft.pt PARTITION (g=7) SELECT id, name FROM graft.pt WHERE false")
      assert(curPt.where(col("g") === 7).count() == 0, "empty static overwrite must truncate")
      assert(curPt.where(col("g") === 3).count() == 1, "other partitions untouched")
      // dynamic PARTITION entries take their values from the query —
      // Spark's equivalence with omitting the clause
      s2.sql("INSERT INTO graft.pt PARTITION (g) VALUES (90, 'dyn', 9)")
      assert(curPt.where(col("g") === 9).select("id").head().getLong(0) == 90)
      // non-partition columns are refused precisely
      val ptRows = curPt.count()
      val eNp = intercept[Exception] {
        s2.sql("INSERT INTO graft.pt PARTITION (name='x') VALUES (1, 2)") }
      assert(eNp.getMessage.contains("NON_PARTITION_COLUMN"), eNp.getMessage)
      // a query that ALSO provides the static column is refused in every
      // shape — its per-row values would silently vanish (column list,
      // BY NAME)
      val eClash1 = intercept[Exception] {
        s2.sql("INSERT INTO graft.pt PARTITION (g=7) (id, name, g) VALUES (1, 'x', 9)") }
      assert(eClash1.getMessage.contains("STATIC_PARTITION_COLUMN_IN_INSERT_COLUMN_LIST"),
        eClash1.getMessage)
      val eClash2 = intercept[Exception] {
        s2.sql("INSERT INTO graft.pt PARTITION (g=7) BY NAME SELECT 1L AS id, 'x' AS name, 9 AS g") }
      assert(eClash2.getMessage.contains("STATIC_PARTITION_COLUMN_IN_INSERT_COLUMN_LIST"),
        eClash2.getMessage)
      // case-insensitive resolution (Spark's default): an upper-cased
      // spec key resolves to the schema column, and an upper-cased query
      // column still trips the overlap guard — it would otherwise be
      // silently replaced by the static value
      val eClash3 = intercept[Exception] {
        s2.sql("INSERT INTO graft.pt PARTITION (g=7) BY NAME SELECT 1L AS id, 'x' AS name, 9 AS G") }
      assert(eClash3.getMessage.contains("STATIC_PARTITION_COLUMN_IN_INSERT_COLUMN_LIST"),
        eClash3.getMessage)
      assert(curPt.count() == ptRows, "a refused INSERT must not change the table")
      s2.sql("INSERT INTO graft.pt PARTITION (G=6) VALUES (60, 'up')")
      assert(curPt.where(col("g") === 6 && col("id") === 60).count() == 1,
        "upper-cased PARTITION key must resolve case-insensitively")

      // mixed static+dynamic spec: the static prefix pins the region,
      // the dynamic column rides the query; partitionOverwriteMode
      // decides the replaced set (Spark semantics)
      val p2df = Seq((1L, "a", 1, 10), (2L, "b", 1, 20), (3L, "c", 2, 10))
        .toDF("id", "name", "g", "h")
      val pt2 = ManagedTable.create(s2, wh, "pt2", p2df.schema, Seq.empty, Seq("g", "h"))
      pt2.append(p2df)
      def curPt2 = ManagedTable.load(s2, wh, "pt2").get.read()
      // static mode: the WHOLE g=1 prefix region is replaced — including
      // h=20, a tuple the batch never writes
      s2.sql("INSERT OVERWRITE graft.pt2 PARTITION (g=1, h) VALUES (7, 'n', 10)")
      assert(curPt2.where(col("g") === 1).count() == 1)
      assert(curPt2.where(col("g") === 1 && col("h") === 20).count() == 0,
        "static mode must clear stale dynamic siblings of the prefix")
      assert(curPt2.where(col("g") === 2).count() == 1, "outside the static prefix untouched")
      // dynamic mode: only the tuples the batch writes are replaced
      ManagedTable.load(s2, wh, "pt2").get
        .append(Seq((8L, "x", 1, 20)).toDF("id", "name", "g", "h"))
      s2.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      s2.sql("INSERT OVERWRITE graft.pt2 PARTITION (g=1, h) VALUES (9, 'y', 10)")
      assert(curPt2.where(col("g") === 1 && col("h") === 10).select("id").head().getLong(0) == 9)
      assert(curPt2.where(col("g") === 1 && col("h") === 20).count() == 1,
        "dynamic mode must keep untouched tuples of the prefix")
      s2.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
      // a dynamic column missing from an explicit column list is refused
      val eMiss = intercept[Exception] {
        s2.sql("INSERT INTO graft.pt2 PARTITION (g=1, h) (id, name) VALUES (1, 'x')") }
      assert(eMiss.getMessage.contains("must be provided"), eMiss.getMessage)
      // …and from a BY NAME query: Spark would fill a nullable h with null
      val p2n = ManagedTable.create(s2, wh, "pt2n",
        org.apache.spark.sql.types.StructType.fromDDL("id BIGINT, g INT, h INT"),
        Seq.empty, Seq("g", "h"))
      val eMissByName = intercept[Exception] {
        s2.sql("INSERT INTO graft.pt2n PARTITION (g=1, h) BY NAME SELECT 1L AS id") }
      assert(eMissByName.getMessage.contains("must be provided"), eMissByName.getMessage)
      assert(p2n.read().count() == 0, "a refused INSERT must not change the table")
      // a BY NAME query that never resolves fails on its own column, not
      // on the (existing) target table
      val eBadCol = intercept[Exception] {
        s2.sql("INSERT INTO graft.pt2n BY NAME SELECT nosuch AS id") }
      assert(eBadCol.getMessage.contains("nosuch") &&
        !eBadCol.getMessage.contains("TABLE_OR_VIEW_NOT_FOUND"), eBadCol.getMessage)
      assert(p2n.read().count() == 0, "a refused INSERT must not change the table")
      // an identity column the spec OMITS is dynamic too (Spark's rule:
      // fully static only when every partition column is named) — so
      // dynamic mode keeps the prefix's untouched tuples
      s2.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      s2.sql("INSERT OVERWRITE graft.pt2 PARTITION (g=1) VALUES (11, 'o', 10)")
      assert(curPt2.where(col("g") === 1 && col("h") === 20).count() == 1,
        "omitted identity column must be treated as dynamic under dynamic mode")
      assert(curPt2.where(col("g") === 1 && col("h") === 10).select("id").head().getLong(0) == 11)
      s2.conf.set("spark.sql.sources.partitionOverwriteMode", "static")

      // metadata suffixes are read-only — precise refusal, nothing mutated
      val e3 = intercept[Exception] {
        s2.sql("DELETE FROM graft.`people$files` WHERE 1=1")
      }
      assert(e3.getMessage.contains("read-only"), e3.getMessage)
      assert(cur.count() == 3)
    } finally {
      org.apache.spark.sql.SparkSession.setDefaultSession(base)
      org.apache.spark.sql.SparkSession.setActiveSession(base)
    }
  }

  test("a cached graft.<t> read follows INSERT, UPDATE, DELETE and MERGE") {
    val base = spark
    org.apache.spark.sql.SparkSession.clearActiveSession()
    org.apache.spark.sql.SparkSession.clearDefaultSession()
    try {
      val b = org.apache.spark.sql.SparkSession.builder()
        .master(base.sparkContext.master)
        .withExtensions(new graft.GraftExtensions().apply(_))
      base.conf.getAll.foreach { case (k, v) => b.config(k, v) }
      val s2 = b.getOrCreate()
      val wh = java.nio.file.Files.createTempDirectory("graft-sqlcache").toString
      s2.conf.set("spark.graft.warehouse", wh)
      s2.sql("CREATE TABLE graft.cached (id BIGINT, v STRING) " +
        "TBLPROPERTIES ('graft.identifier-fields'='id')")
      s2.sql("INSERT INTO graft.cached VALUES (1, 'a'), (2, 'b')")
      val cached = s2.table("graft.cached").cache()
      // a read derived from the cached Dataset, answered by the cache
      def rows = {
        val read = cached.select("id", "v")
        assert(read.queryExecution.withCachedData.exists(
          _.isInstanceOf[org.apache.spark.sql.execution.columnar.InMemoryRelation]),
          "the read must be served by the cache")
        read.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      }
      try {
        assert(rows == Map(1L -> "a", 2L -> "b"))
        s2.sql("INSERT INTO graft.cached VALUES (3, 'c')")
        assert(rows == Map(1L -> "a", 2L -> "b", 3L -> "c"), "after INSERT")
        s2.sql("UPDATE graft.cached SET v = 'b2' WHERE id = 2")
        assert(rows == Map(1L -> "a", 2L -> "b2", 3L -> "c"), "after UPDATE")
        s2.sql("DELETE FROM graft.cached WHERE id = 1")
        assert(rows == Map(2L -> "b2", 3L -> "c"), "after DELETE")
        s2.sql("""MERGE INTO graft.cached t USING
          |(SELECT 3L AS id, 'c2' AS v UNION ALL SELECT 4L, 'd') s ON t.id = s.id
          |WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *""".stripMargin)
        assert(rows == Map(2L -> "b2", 3L -> "c2", 4L -> "d"), "after MERGE")
      } finally cached.unpersist()
    } finally {
      org.apache.spark.sql.SparkSession.setDefaultSession(base)
      org.apache.spark.sql.SparkSession.setActiveSession(base)
    }
  }

  test("a cached read of either spelling follows writes through the other, and DROP + CREATE") {
    val base = spark
    org.apache.spark.sql.SparkSession.clearActiveSession()
    org.apache.spark.sql.SparkSession.clearDefaultSession()
    try {
      val b = org.apache.spark.sql.SparkSession.builder()
        .master(base.sparkContext.master)
        .withExtensions(new graft.GraftExtensions().apply(_))
      base.conf.getAll.foreach { case (k, v) => b.config(k, v) }
      val s2 = b.getOrCreate()
      val wh = java.nio.file.Files.createTempDirectory("graft-sqlcache2").toString
      s2.conf.set("spark.graft.warehouse", wh)
      val cat = s"gcache_${java.util.UUID.randomUUID().toString.take(8)}"
      s2.conf.set(s"spark.sql.catalog.$cat", classOf[graft.catalog.GraftCatalog].getName)
      s2.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      val create = "CREATE TABLE graft.x (id BIGINT, v STRING) " +
        "TBLPROPERTIES ('graft.identifier-fields'='id')"
      s2.sql(create)
      s2.sql("INSERT INTO graft.x VALUES (1, 'a'), (2, 'b')")
      def rowsOf(name: String) =
        s2.table(name).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      val viaCat = s2.table(s"$cat.x").cache()
      val viaGraft = s2.table("graft.x").cache()
      try {
        assert(rowsOf(s"$cat.x") == Map(1L -> "a", 2L -> "b"))
        assert(rowsOf("graft.x") == Map(1L -> "a", 2L -> "b"))
        // writes through graft.x reach a cached <cat>.x read
        s2.sql("INSERT INTO graft.x VALUES (3, 'c')")
        assert(rowsOf(s"$cat.x") == Map(1L -> "a", 2L -> "b", 3L -> "c"), "after INSERT")
        s2.sql("UPDATE graft.x SET v = 'b2' WHERE id = 2")
        assert(rowsOf(s"$cat.x") == Map(1L -> "a", 2L -> "b2", 3L -> "c"), "after UPDATE")
        s2.sql("DELETE FROM graft.x WHERE id = 1")
        assert(rowsOf(s"$cat.x") == Map(2L -> "b2", 3L -> "c"), "after DELETE")
        s2.sql("""MERGE INTO graft.x t USING (SELECT 4L AS id, 'd' AS v) s
          |ON t.id = s.id WHEN NOT MATCHED THEN INSERT *""".stripMargin)
        assert(rowsOf(s"$cat.x") == Map(2L -> "b2", 3L -> "c", 4L -> "d"), "after MERGE")
        // …and writes through <cat>.x reach a cached graft.x read
        s2.sql(s"INSERT INTO $cat.x VALUES (5, 'e')")
        assert(rowsOf("graft.x") == Map(2L -> "b2", 3L -> "c", 4L -> "d", 5L -> "e"),
          s"after INSERT INTO $cat.x")
        s2.sql(s"DELETE FROM $cat.x WHERE id = 5")
        assert(rowsOf("graft.x") == Map(2L -> "b2", 3L -> "c", 4L -> "d"),
          s"after DELETE FROM $cat.x")
        // a table dropped and re-created under the same name starts empty
        // on both spellings, whichever spelling dropped it
        s2.sql("DROP TABLE graft.x")
        s2.sql(create)
        assert(rowsOf(s"$cat.x").isEmpty, s"$cat.x after DROP TABLE graft.x + CREATE")
        assert(rowsOf("graft.x").isEmpty, "graft.x after DROP TABLE graft.x + CREATE")
        s2.sql("INSERT INTO graft.x VALUES (7, 'g')")
        s2.table("graft.x").cache()
        s2.table(s"$cat.x").cache()
        assert(rowsOf("graft.x") == Map(7L -> "g") && rowsOf(s"$cat.x") == Map(7L -> "g"))
        s2.sql(s"DROP TABLE $cat.x")
        s2.sql(create)
        assert(rowsOf("graft.x").isEmpty, s"graft.x after DROP TABLE $cat.x + CREATE")
        assert(rowsOf(s"$cat.x").isEmpty, s"$cat.x after DROP TABLE $cat.x + CREATE")
        // a cached read of a branch follows a write staged onto it
        s2.sql("INSERT INTO graft.x VALUES (8, 'h')")
        s2.sql("ALTER TABLE graft.x CREATE BRANCH b1")
        def branchRows = s2.sql(s"SELECT * FROM $cat.x VERSION AS OF 'b1'")
          .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
        s2.sql(s"SELECT * FROM $cat.x VERSION AS OF 'b1'").cache()
        assert(branchRows == Map(8L -> "h"))
        s2.conf.set("spark.wap.branch", "b1")
        try s2.sql("INSERT INTO graft.x VALUES (9, 'i')")
        finally s2.conf.unset("spark.wap.branch")
        assert(branchRows == Map(8L -> "h", 9L -> "i"), "branch after a staged INSERT")
      } finally {
        viaCat.unpersist(); viaGraft.unpersist()
        s2.catalog.clearCache()
      }
    } finally {
      org.apache.spark.sql.SparkSession.setDefaultSession(base)
      org.apache.spark.sql.SparkSession.setActiveSession(base)
    }
  }

  test("MERGE WHEN NOT MATCHED BY SOURCE: full-sync clauses, order folding, refusals") {
    val base = spark
    org.apache.spark.sql.SparkSession.clearActiveSession()
    org.apache.spark.sql.SparkSession.clearDefaultSession()
    try {
      val b = org.apache.spark.sql.SparkSession.builder()
        .master(base.sparkContext.master)
        .withExtensions(new graft.GraftExtensions().apply(_))
      base.conf.getAll.foreach { case (k, v) => b.config(k, v) }
      val s2 = b.getOrCreate()
      import s2.implicits._
      val wh = java.nio.file.Files.createTempDirectory("graft-sqlmbs").toString
      s2.conf.set("spark.graft.warehouse", wh)
      def mk(name: String): ManagedTable = {
        val df = (1 to 20).map(i => (i.toLong, s"n$i", i * 10.0)).toDF("id", "name", "v")
        val t = ManagedTable.create(s2, wh, name, df.schema, Seq("id"))
        t.append(df); t
      }
      def cur(name: String) = ManagedTable.load(s2, wh, name).get.read()

      // all five clause kinds in one statement: source = ids 1..10 (keep)
      // + 31..33 (insert); targets 11..20 unmatched by source
      mk("sync")
      (1L to 10L).map(i => (i, s"s$i", i * 100.0))
        .union(Seq((31L, "new31", 1.0), (32L, "new32", 2.0), (33L, "new33", 3.0)))
        .toDF("id", "name", "v").createOrReplaceTempView("snap")
      s2.sql("""MERGE INTO graft.sync AS t USING snap AS s ON t.id = s.id
        |WHEN MATCHED AND s.v > 900 THEN DELETE
        |WHEN MATCHED THEN UPDATE SET t.v = s.v
        |WHEN NOT MATCHED AND s.id < 33 THEN INSERT *
        |WHEN NOT MATCHED BY SOURCE AND t.id >= 18 THEN DELETE
        |WHEN NOT MATCHED BY SOURCE AND t.v > 140 THEN UPDATE SET t.name = 'stale'
        |""".stripMargin)
      val got = cur("sync").select("id", "name", "v").collect()
        .map(r => r.getLong(0) -> ((r.getString(1), r.getDouble(2)))).toMap
      assert(!got.contains(10L), "matched s.v>900 deleted")
      assert(got(5L) == ("n5", 500.0), "matched updated v only")
      assert(got(31L) == ("new31", 1.0) && got(32L) == ("new32", 2.0))
      assert(!got.contains(33L), "insert condition filtered")
      assert(!got.contains(18L) && !got.contains(19L) && !got.contains(20L),
        "by-source delete fired on unmatched ids >= 18")
      assert(got(15L) == ("stale", 150.0) && got(17L) == ("stale", 170.0),
        "by-source update flagged v>140 survivors")
      assert(got(11L) == ("n11", 110.0), "unmatched row hit by no clause untouched")

      // clause order folds first-match-wins: UPDATE written BEFORE DELETE
      // with overlapping conditions — rows matching both must UPDATE
      mk("ordtest")
      Seq((1L, "x", 0.0)).toDF("id", "name", "v").createOrReplaceTempView("one")
      s2.sql("""MERGE INTO graft.ordtest AS t USING one AS s ON t.id = s.id
        |WHEN NOT MATCHED BY SOURCE AND t.v > 100 THEN UPDATE SET t.name = 'kept'
        |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin)
      val ord = cur("ordtest").select("id", "name").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(ord.keySet == (Set(1L) ++ (11L to 20L)), "v<=100 unmatched rows deleted")
      assert((11L to 20L).forall(ord(_) == "kept"), "earlier UPDATE masks DELETE")
      assert(ord(1L) == "n1", "matched row untouched by by-source clauses")

      // a NULL earlier-clause condition must fall through (not mask):
      // DELETE cond UNKNOWN → row falls to UPDATE
      mk("nullbs")
      Seq((99L, "x", 0.0)).toDF("id", "name", "v").createOrReplaceTempView("none")
      s2.sql("""MERGE INTO graft.nullbs AS t USING none AS s ON t.id = s.id
        |WHEN NOT MATCHED BY SOURCE AND nullif(t.v, t.v) > 0 THEN DELETE
        |WHEN NOT MATCHED BY SOURCE THEN UPDATE SET t.name = 'fell'""".stripMargin)
      assert(cur("nullbs").count() == 20, "UNKNOWN delete cond must not delete")
      assert(cur("nullbs").where(col("name") === "fell").count() == 20)

      // refusals: source reference in a BY SOURCE clause; duplicate clause
      val e1 = intercept[Exception] {
        s2.sql("""MERGE INTO graft.sync AS t USING snap AS s ON t.id = s.id
          |WHEN NOT MATCHED BY SOURCE AND s.v > 0 THEN DELETE""".stripMargin)
      }
      assert(e1.getMessage.contains("cannot reference the source"), e1.getMessage)
      val e2 = intercept[Exception] {
        s2.sql("""MERGE INTO graft.sync AS t USING snap AS s ON t.id = s.id
          |WHEN NOT MATCHED BY SOURCE AND t.v > 0 THEN DELETE
          |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin)
      }
      assert(e2.getMessage.contains("at most one WHEN NOT MATCHED BY SOURCE DELETE"),
        e2.getMessage)
    } finally {
      org.apache.spark.sql.SparkSession.setDefaultSession(base)
      org.apache.spark.sql.SparkSession.setActiveSession(base)
    }
  }

  test("DML predicates may carry subqueries over graft tables") {
    val base = spark
    org.apache.spark.sql.SparkSession.clearActiveSession()
    org.apache.spark.sql.SparkSession.clearDefaultSession()
    try {
      val b = org.apache.spark.sql.SparkSession.builder()
        .master(base.sparkContext.master)
        .withExtensions(new graft.GraftExtensions().apply(_))
      base.conf.getAll.foreach { case (k, v) => b.config(k, v) }
      val s2 = b.getOrCreate()
      val wh = java.nio.file.Files.createTempDirectory("graft-sqsub").toString
      s2.conf.set("spark.graft.warehouse", wh)
      s2.sql("CREATE TABLE graft.tt (id BIGINT, v STRING) " +
        "TBLPROPERTIES ('graft.identifier-fields'='id')")
      s2.sql("INSERT INTO graft.tt VALUES (1,'a'),(2,'b'),(3,'c')")
      s2.sql("CREATE TABLE graft.flagged (id BIGINT)")
      s2.sql("INSERT INTO graft.flagged VALUES (2)")
      // IN-subquery DELETE: the condition's inner plan resolves through
      // the same extension rules as any query
      s2.sql("DELETE FROM graft.tt WHERE id IN (SELECT id FROM graft.flagged)")
      assert(s2.sql("SELECT id FROM graft.tt ORDER BY id").collect()
        .map(_.getLong(0)).toSeq == Seq(1L, 3L))
      // scalar-subquery UPDATE
      s2.sql("UPDATE graft.tt SET v = 'top' WHERE id = (SELECT max(id) FROM graft.tt)")
      assert(s2.sql("SELECT v FROM graft.tt WHERE id = 3").head().getString(0) == "top")
      // a subquery over the PARTITION column of a keyless partitioned
      // table is NOT tuple-decidable per the metadata-delete rules — it
      // must fall through to the row-level path and still be correct
      s2.sql("CREATE TABLE graft.logs2 (id BIGINT, day STRING) PARTITIONED BY (day)")
      s2.sql("INSERT INTO graft.logs2 VALUES (1,'d1'),(2,'d2'),(3,'d1')")
      s2.sql("CREATE TABLE graft.dropdays (day STRING)")
      s2.sql("INSERT INTO graft.dropdays VALUES ('d1')")
      s2.sql("DELETE FROM graft.logs2 WHERE day IN (SELECT day FROM graft.dropdays)")
      assert(s2.sql("SELECT id FROM graft.logs2").collect().map(_.getLong(0)).toSeq == Seq(2L))
    } finally {
      org.apache.spark.sql.SparkSession.setDefaultSession(base)
      org.apache.spark.sql.SparkSession.setActiveSession(base)
    }
  }

  test("SQL DELETE on a whole partition region is a metadata-only commit") {
    val base = spark
    org.apache.spark.sql.SparkSession.clearActiveSession()
    org.apache.spark.sql.SparkSession.clearDefaultSession()
    try {
      val b = org.apache.spark.sql.SparkSession.builder()
        .master(base.sparkContext.master)
        .withExtensions(new graft.GraftExtensions().apply(_))
      base.conf.getAll.foreach { case (k, v) => b.config(k, v) }
      val s2 = b.getOrCreate()
      import s2.implicits._
      val wh = java.nio.file.Files.createTempDirectory("graft-sqlmd").toString
      s2.conf.set("spark.graft.warehouse", wh)
      val df = (1 to 60).map(i => (i.toLong, s"d2024-01-${"%02d".format(i % 6 + 1)}", i * 1.0))
        .toDF("id", "day", "v")
      val t = ManagedTable.create(s2, wh, "events_md", df.schema, Seq.empty, Seq("day"))
      t.append(df)
      val before = t.filesMetadata().select("path").as[String].collect().toSet
      // the SQL retention shape: qualified alias + IN list over the region
      s2.sql("DELETE FROM graft.events_md AS e WHERE e.day IN ('d2024-01-01', 'd2024-01-02')")
      val t2 = ManagedTable.load(s2, wh, "events_md").get
      assert(t2.read().count() == 40)
      assert(t2.read().filter(col("day") < "d2024-01-03").count() == 0)
      val after = t2.filesMetadata().select("path").as[String].collect().toSet
      assert(after.subsetOf(before) && after.nonEmpty,
        "SQL region delete must drop manifest entries, not rewrite files")
    } finally {
      org.apache.spark.sql.SparkSession.setDefaultSession(base)
      org.apache.spark.sql.SparkSession.setActiveSession(base)
    }
  }
}
