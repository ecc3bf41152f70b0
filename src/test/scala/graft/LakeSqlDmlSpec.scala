package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.sources.Lake

/** The SQL write path for lake tables (GraftSqlParser via injectParser):
  * MERGE INTO / UPDATE / DELETE FROM / OPTIMIZE / VACUUM over
  * graft_lake('<root>'), the clause matrix, alias handling, delegation of
  * every non-lake statement, and the refusal surface. */
class LakeSqlDmlSpec extends LakeSqlTestBase {
  import spark.implicits._

  test("MERGE INTO: full clause matrix with statement aliases") {
    withExtendedSession { s =>
      import s.implicits._
      val t = mkTable(s)
      Seq((5L, "DEL", "D", 0.0), (42L, "UPD", "U", 1.0),
        (61L, "NOPE", "N", 2.0), (200L, "INS", "I", 3.0))
        .toDF("k", "payload", "status", "amount")
        .createOrReplaceTempView("dml_src")
      val stats = s.sql(
        s"""MERGE INTO graft_lake('${t.root}') AS tgt
           |USING dml_src AS src
           |ON tgt.k = src.k
           |WHEN MATCHED AND src.status = 'D' THEN DELETE
           |WHEN MATCHED AND src.status = 'U' THEN UPDATE SET *
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect()
      stats.head.getInt(0) shouldBe 1 // version
      val r = t.read()
      r.count() shouldBe 90L // -1 delete +1 insert
      r.filter(col("k") === 5L).count() shouldBe 0L
      rows(r.filter(col("k") === 42L).select("payload")) shouldBe Seq(Seq("UPD"))
      rows(r.filter(col("k") === 61L).select("payload")) shouldBe Seq(Seq("val61"))
      rows(r.filter(col("k") === 200L).select("payload")) shouldBe Seq(Seq("INS"))
    }
  }

  test("MERGE INTO: subquery source, no aliases, plain upsert clauses") {
    withExtendedSession { s =>
      import s.implicits._
      val t = mkTable(s)
      Seq((7L, "UP7", "U", 0.0), (300L, "NEW", "I", 1.0))
        .toDF("k", "payload", "status", "amount")
        .createOrReplaceTempView("dml_src2")
      s.sql(
        s"""MERGE INTO graft_lake('${t.root}')
           |USING (SELECT * FROM dml_src2 WHERE k <> 9999) ON k = k
           |WHEN MATCHED THEN UPDATE SET *
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect()
      rows(t.read().filter(col("k").isin(7L, 300L))
        .select("k", "payload").orderBy("k")) shouldBe
        Seq(Seq(7L, "UP7"), Seq(300L, "NEW"))
      t.read().count() shouldBe 91L
    }
  }

  test("UPDATE: simultaneous assignments against the OLD row, WHERE scoping") {
    withExtendedSession { s =>
      val t = mkTable(s)
      // swap-style: both RHS reference pre-update values
      s.sql(
        s"""UPDATE graft_lake('${t.root}') AS t
           |SET payload = t.status, status = t.payload, amount = t.amount + 1
           |WHERE t.k <= 3""".stripMargin).collect()
      rows(t.read().filter(col("k") <= 3L)
        .select("k", "payload", "status", "amount").orderBy("k")) shouldBe
        Seq(Seq(1L, "A", "val1", 11.0), Seq(2L, "A", "val2", 21.0),
          Seq(3L, "A", "val3", 31.0))
      t.read().filter(col("payload") === "A").count() shouldBe 3L
      // an UPDATE matching nothing commits nothing
      val v = t.latestVersion
      s.sql(s"UPDATE graft_lake('${t.root}') SET status = 'X' WHERE k > 1000")
        .collect()
      t.latestVersion shouldBe v
    }
  }

  test("DELETE FROM: non-key predicate, and unconditioned full wipe") {
    withExtendedSession { s =>
      val t = mkTable(s)
      s.sql(s"DELETE FROM graft_lake('${t.root}') WHERE amount > 600.0")
        .collect()
      t.read().count() shouldBe 60L
      t.read().agg(max("k")).collect()(0).getLong(0) shouldBe 60L
      // snapshot isolation: pre-delete version intact
      t.snapshot(0).count() shouldBe 90L
      s.sql(s"DELETE FROM graft_lake('${t.root}')").collect()
      t.read().count() shouldBe 0L
    }
  }

  test("OPTIMIZE: FILES, SORT BY, n-column ZORDER BY; VACUUM RETAIN") {
    withExtendedSession { s =>
      val t = mkTable(s)
      s.sql(s"OPTIMIZE graft_lake('${t.root}') FILES 2").collect()
      t.manifest(t.latestVersion).files should have size 2
      s.sql(s"OPTIMIZE graft_lake('${t.root}') FILES 3 SORT BY (status, payload)")
        .collect()
      t.manifest(t.latestVersion).operation should include("sortby")
      s.sql(s"OPTIMIZE graft_lake('${t.root}') FILES 4 ZORDER BY (k, amount, status)")
        .collect()
      t.manifest(t.latestVersion).operation shouldBe "optimize-zorder-3d"
      t.read().count() shouldBe 90L
      s.sql(s"OPTIMIZE graft_lake('${t.root}') FILES 4 HILBERT BY (k, amount)")
        .collect()
      t.manifest(t.latestVersion).operation shouldBe "optimize-hilbert-2d"
      t.read().count() shouldBe 90L
      val vac = s.sql(s"VACUUM graft_lake('${t.root}') RETAIN 1 VERSIONS")
        .collect()
      vac.head.getInt(0) should be > 0 // manifests removed
      t.hasVersion(0) shouldBe false
      t.read().count() shouldBe 90L
    }
  }

  test("MERGE works through outstanding tombstones from SQL too") {
    withExtendedSession { s =>
      import s.implicits._
      val t = mkTable(s)
      t.deleteDeferred(Seq(5L, 6L).toDF("k"))
      Seq((5L, "BACK5", "U", 0.0)).toDF("k", "payload", "status", "amount")
        .createOrReplaceTempView("dml_src3")
      s.sql(
        s"""MERGE INTO graft_lake('${t.root}') t USING dml_src3 s
           |ON t.k = s.k
           |WHEN MATCHED THEN UPDATE SET *
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect()
      rows(t.read().filter(col("k") === 5L).select("payload")) shouldBe
        Seq(Seq("BACK5"))
      t.read().filter(col("k") === 6L).count() shouldBe 0L
    }
  }

  test("refusals: mis-ordered clauses, non-key ON, key assignment, bad grammar") {
    withExtendedSession { s =>
      val t = mkTable(s)
      // UPDATE clause before DELETE clause: the engine evaluates DELETE
      // first — reordering silently would change which clause wins
      val e1 = intercept[IllegalArgumentException] {
        s.sql(
          s"""MERGE INTO graft_lake('${t.root}') t USING x s ON t.k = s.k
             |WHEN MATCHED AND s.a = 1 THEN UPDATE SET *
             |WHEN MATCHED AND s.a = 2 THEN DELETE""".stripMargin)
      }
      e1.getMessage should include("DELETE before UPDATE")
      // ON must be a key equality — enforced at run against the manifest
      val e2 = intercept[IllegalArgumentException] {
        s.sql(
          s"""MERGE INTO graft_lake('${t.root}') t USING x s ON t.payload = s.payload
             |WHEN MATCHED THEN UPDATE SET *""".stripMargin).collect()
      }
      e2.getMessage should include("merge key")
      // assigning the merge key in UPDATE
      val e3 = intercept[IllegalArgumentException] {
        s.sql(s"UPDATE graft_lake('${t.root}') SET k = 0 WHERE k = 1").collect()
      }
      e3.getMessage should include("merge key")
      // assigning a column the table doesn't have (withColumns would
      // silently ADD it)
      val e3b = intercept[IllegalArgumentException] {
        s.sql(s"UPDATE graft_lake('${t.root}') SET no_such = 1 WHERE k = 1")
          .collect()
      }
      e3b.getMessage should include("unknown column")
      // assigning the merge key in a per-column MERGE SET (parse-time:
      // the key is known from the ON clause)
      val e4 = intercept[IllegalArgumentException] {
        s.sql(
          s"""MERGE INTO graft_lake('${t.root}') t USING x s ON t.k = s.k
             |WHEN MATCHED THEN UPDATE SET t.k = s.k + 1""".stripMargin)
      }
      e4.getMessage should include("merge key")
      // a NOT MATCHED condition has no target row to reference
      val e5 = intercept[IllegalArgumentException] {
        s.sql(
          s"""MERGE INTO graft_lake('${t.root}') t USING x s ON t.k = s.k
             |WHEN NOT MATCHED AND t.amount > 1 THEN INSERT *""".stripMargin)
      }
      e5.getMessage should include("only the source")
      // a NOT MATCHED BY SOURCE condition has no source row to reference
      val e6 = intercept[IllegalArgumentException] {
        s.sql(
          s"""MERGE INTO graft_lake('${t.root}') t USING x s ON t.k = s.k
             |WHEN NOT MATCHED BY SOURCE AND s.amount > 1 THEN DELETE""".stripMargin)
      }
      e6.getMessage should include("only the target")
      // the assignment target must be a target column, not source-qualified
      val e7 = intercept[IllegalArgumentException] {
        s.sql(
          s"""MERGE INTO graft_lake('${t.root}') t USING x s ON t.k = s.k
             |WHEN MATCHED THEN UPDATE SET s.payload = 'x'""".stripMargin)
      }
      e7.getMessage should include("target table")
    }
  }

  test("MERGE: per-column SET, conditional INSERT, NOT MATCHED BY SOURCE DELETE") {
    withExtendedSession { s =>
      import s.implicits._
      val t = mkTable(s) // keys 1..90, payload valK, status A, amount k*10
      Seq((10L, "P10", "S", 5.0), (20L, "P20", "S", 5.0),
        (200L, "NEW", "S", 1.0), (300L, "BIG", "S", 999.0))
        .toDF("k", "payload", "status", "amount")
        .createOrReplaceTempView("full_src")
      val stats = s.sql(
        s"""MERGE INTO graft_lake('${t.root}') AS tgt
           |USING full_src AS src ON tgt.k = src.k
           |WHEN MATCHED AND tgt.k = 10 THEN
           |  UPDATE SET payload = src.payload, amount = tgt.amount + src.amount
           |WHEN NOT MATCHED AND src.amount < 100.0 THEN INSERT *
           |WHEN NOT MATCHED BY SOURCE AND tgt.k > 88 THEN DELETE""".stripMargin)
        .collect()(0)
      // NMBS rewrite is TARGETED: source keys hit the low file, the
      // condition (k > 88) fires only in the high file — the middle file
      // carries by reference
      stats.getInt(1) shouldBe 1 // kept_files
      stats.getInt(2) shouldBe 2 // rewritten_files
      val r = t.read()
      // per-column update: payload/amount assigned, status carried
      rows(r.filter(col("k") === 10L)
        .select("payload", "status", "amount")) shouldBe
        Seq(Seq("P10", "A", 105.0))
      // matched but condition false: row untouched
      rows(r.filter(col("k") === 20L).select("payload")) shouldBe
        Seq(Seq("val20"))
      // conditional insert: 200 (amount 1.0) in, 300 (999.0) out
      r.filter(col("k") === 200L).count() shouldBe 1L
      r.filter(col("k") === 300L).count() shouldBe 0L
      // NOT MATCHED BY SOURCE: 89 and 90 (k > 88, no source match) deleted
      r.filter(col("k") > 88L && col("k") < 100L).count() shouldBe 0L
      r.count() shouldBe 89L // 90 - 2 NMBS + 1 insert
    }
  }

  test("MERGE: NOT MATCHED BY SOURCE UPDATE marks stale rows per-column") {
    withExtendedSession { s =>
      import s.implicits._
      val t = mkTable(s) // keys 1..90, status A
      // the source carries only keys 1..10: everything else is "stale"
      (1L to 10L).map(k => (k, s"keep$k", "K", 1.0))
        .toDF("k", "payload", "status", "amount")
        .createOrReplaceTempView("recon_src")
      val stats = s.sql(
        s"""MERGE INTO graft_lake('${t.root}') t USING recon_src s
           |ON t.k = s.k
           |WHEN MATCHED THEN UPDATE SET *
           |WHEN NOT MATCHED BY SOURCE AND t.k <= 40 THEN DELETE
           |WHEN NOT MATCHED BY SOURCE AND t.k > 60
           |  THEN UPDATE SET status = 'STALE'""".stripMargin).collect()(0)
      val r = t.read()
      // matched: replaced; 11..40 deleted; 41..60 carried; 61..90 marked
      r.count() shouldBe 60L // 10 + 20 + 30
      rows(r.filter(col("k") === 5L).select("payload")) shouldBe
        Seq(Seq("keep5"))
      r.filter(col("k").between(11L, 40L)).count() shouldBe 0L
      rows(r.filter(col("k") === 50L).select("status")) shouldBe Seq(Seq("A"))
      r.filter(col("status") === "STALE").count() shouldBe 30L
      rows(r.filter(col("k") === 70L).select("payload", "status")) shouldBe
        Seq(Seq("val70", "STALE")) // other columns carried from the target
      // mis-ordered NMBS clauses refuse (DELETE evaluates first)
      intercept[IllegalArgumentException] {
        s.sql(
          s"""MERGE INTO graft_lake('${t.root}') t USING recon_src s ON t.k = s.k
             |WHEN NOT MATCHED BY SOURCE AND t.k > 60 THEN UPDATE SET status = 'X'
             |WHEN NOT MATCHED BY SOURCE AND t.k <= 40 THEN DELETE""".stripMargin)
      }.getMessage should include("DELETE clause first")
      // a source-referencing NMBS assignment refuses
      intercept[IllegalArgumentException] {
        s.sql(
          s"""MERGE INTO graft_lake('${t.root}') t USING recon_src s ON t.k = s.k
             |WHEN NOT MATCHED BY SOURCE THEN UPDATE SET status = s.status""".stripMargin)
      }.getMessage should include("only the target")
      // SET * is impossible without a source row
      intercept[IllegalArgumentException] {
        s.sql(
          s"""MERGE INTO graft_lake('${t.root}') t USING recon_src s ON t.k = s.k
             |WHEN NOT MATCHED BY SOURCE THEN UPDATE SET *""".stripMargin)
      }.getMessage should include("per-column")
    }
  }

  test("MERGE: per-column SET accepts a NARROW source when inserts are off") {
    withExtendedSession { s =>
      import s.implicits._
      val t = mkTable(s)
      // only the key and the assignment input — no full row
      Seq((3L, 777.0), (4L, 888.0), (500L, 1.0)).toDF("k", "new_amount")
        .createOrReplaceTempView("narrow_src")
      s.sql(
        s"""MERGE INTO graft_lake('${t.root}') t USING narrow_src s
           |ON t.k = s.k
           |WHEN MATCHED THEN UPDATE SET amount = s.new_amount""".stripMargin)
        .collect()
      rows(t.read().filter(col("k").isin(3L, 4L))
        .select("k", "payload", "amount").orderBy("k")) shouldBe
        Seq(Seq(3L, "val3", 777.0), Seq(4L, "val4", 888.0))
      // the unmatched narrow key neither inserted nor failed
      t.read().filter(col("k") === 500L).count() shouldBe 0L
      t.read().count() shouldBe 90L
      // per-column merges never evolve the schema: new_amount is no column
      t.read().columns should not contain "new_amount"
    }
  }

  test("scanner: double-quoted strings and block comments never mis-structure") {
    withExtendedSession { s =>
      val t = mkTable(s)
      // a double-quoted literal containing '--' must not scan as a comment
      s.sql(
        s"""UPDATE graft_lake('${t.root}') SET payload = "a--b" WHERE k = 1""")
        .collect()
      rows(t.read().filter(col("k") === 1L).select("payload")) shouldBe
        Seq(Seq("a--b"))
      // a double-quoted string with ',' and ')' inside an IN list
      s.sql(
        s"""UPDATE graft_lake('${t.root}') SET status = 'Z'
           |WHERE payload IN ("a,b", 'c)d', "a--b")""".stripMargin).collect()
      t.read().filter(col("status") === "Z").count() shouldBe 1L
      // a block comment containing ';' in a WHERE tail must not truncate
      s.sql(
        s"""DELETE FROM graft_lake('${t.root}')
           |WHERE /* not a terminator: ; */ amount > 880.0""".stripMargin)
        .collect()
      t.read().count() shouldBe 88L // amount k*10 > 880 → keys 89 and 90
      // a semicolon INSIDE a single-quoted string survives restStmt
      s.sql(
        s"""UPDATE graft_lake('${t.root}') SET payload = 'x;y' WHERE k = 2""")
        .collect()
      rows(t.read().filter(col("k") === 2L).select("payload")) shouldBe
        Seq(Seq("x;y"))
    }
  }

  test("ALTER TABLE: RENAME/DROP COLUMN are metadata-only and SQL-visible") {
    withExtendedSession { s =>
      val t = mkTable(s) // k, payload, status, amount
      val files0 = t.manifest(0).files.map(_.path).toSet
      s.sql(s"ALTER TABLE graft_lake('${t.root}') RENAME COLUMN payload TO note")
        .collect()
      s.sql(s"ALTER TABLE graft_lake('${t.root}') DROP COLUMN amount")
        .collect()
      // zero data movement across both commits
      t.manifest(t.latestVersion).files.map(_.path).toSet shouldBe files0
      // SQL reads speak the new shape
      val r = s.sql(s"SELECT * FROM graft_lake('${t.root}') WHERE k = 1")
        .collect()(0)
      r.schema.fieldNames.toSeq shouldBe Seq("k", "note", "status")
      r.getString(1) shouldBe "val1"
      // time travel recovers the OLD shape
      s.sql(s"SELECT * FROM graft_lake('${t.root}') VERSION AS OF 0 WHERE k = 1")
        .collect()(0).schema.fieldNames.toSeq shouldBe
        Seq("k", "payload", "status", "amount")
      // DML through the new name
      s.sql(s"UPDATE graft_lake('${t.root}') SET note = 'SQL1' WHERE k = 1")
        .collect()
      s.sql(s"SELECT note FROM graft_lake('${t.root}') WHERE k = 1")
        .collect()(0).getString(0) shouldBe "SQL1"
      // ALTER on a non-lake table delegates to the default parser
      intercept[Exception] {
        s.sql("ALTER TABLE no_such_t RENAME COLUMN a TO b").collect()
      }.getMessage should not include "graft lake SQL"
    }
  }

  test("ALTER TABLE ADD COLUMN: metadata-only schema growth from SQL") {
    withExtendedSession { s =>
      val t = mkTable(s) // k, payload, status, amount
      val files0 = t.manifest(0).files.map(_.path).toSet
      s.sql(s"ALTER TABLE graft_lake('${t.root}') ADD COLUMN score DOUBLE")
        .collect()
      // zero data movement; old files read the column as null
      t.manifest(t.latestVersion).files.map(_.path).toSet shouldBe files0
      val r = s.sql(s"SELECT * FROM graft_lake('${t.root}') WHERE k = 1")
        .collect()(0)
      r.schema.fieldNames.toSeq shouldBe
        Seq("k", "payload", "status", "amount", "score")
      r.isNullAt(4) shouldBe true
      // complex types normalize through the delegate's type grammar
      s.sql(s"ALTER TABLE graft_lake('${t.root}') ADD COLUMN tags ARRAY<STRING>")
        .collect()
      s.sql(s"SELECT tags FROM graft_lake('${t.root}') WHERE k = 1")
        .collect()(0).isNullAt(0) shouldBe true
      // DML can fill it; time travel keeps the pre-DDL shape
      s.sql(s"UPDATE graft_lake('${t.root}') SET score = 9.5 WHERE k = 2")
        .collect()
      s.sql(s"SELECT score FROM graft_lake('${t.root}') WHERE k = 2")
        .collect()(0).getDouble(0) shouldBe 9.5
      s.sql(s"SELECT * FROM graft_lake('${t.root}') VERSION AS OF 0 WHERE k = 1")
        .collect()(0).schema.fieldNames.toSeq shouldBe
        Seq("k", "payload", "status", "amount")
      // drop → SQL re-add reserves the old bytes (fresh physical storage)
      s.sql(s"ALTER TABLE graft_lake('${t.root}') DROP COLUMN status").collect()
      s.sql(s"ALTER TABLE graft_lake('${t.root}') ADD COLUMN status STRING")
        .collect()
      t.manifest(t.latestVersion).columnMap.get("status") shouldBe
        Some("status_2")
      s.sql(s"SELECT count(*) FROM graft_lake('${t.root}') " +
        "WHERE status IS NOT NULL").collect()(0).getLong(0) shouldBe 0L
      // explicit widening DDL: INT-ish columns promote in place
      s.sql(s"ALTER TABLE graft_lake('${t.root}') ALTER COLUMN score TYPE DOUBLE")
        .collect() // no-op (already double) — parses and resolves
      intercept[Exception] {
        s.sql(s"ALTER TABLE graft_lake('${t.root}') ALTER COLUMN payload " +
          "TYPE INT").collect()
      }.getMessage should include("WIDEN")
      // refusals: duplicate, bad type
      intercept[Exception] {
        s.sql(s"ALTER TABLE graft_lake('${t.root}') ADD COLUMN k BIGINT")
          .collect()
      }.getMessage should include("already exists")
      intercept[Exception] {
        s.sql(s"ALTER TABLE graft_lake('${t.root}') ADD COLUMN z NOTATYPE")
          .collect()
      }
    }
  }

  test("scanner: escaped quotes inside literals never mis-structure") {
    withExtendedSession { s =>
      val t = mkTable(s)
      // backslash-escaped quote carrying a ';' and a ',' in its tail —
      // the old scanner mis-terminated at the escape and split there
      s.sql(s"UPDATE graft_lake('${t.root}') SET payload = 'it\\'s; a, (test)' " +
        "WHERE k = 1").collect()
      s.sql(s"SELECT payload FROM graft_lake('${t.root}') WHERE k = 1")
        .collect()(0).getString(0) shouldBe "it's; a, (test)"
      // doubled-quote escape form, same hazard
      s.sql(s"UPDATE graft_lake('${t.root}') SET payload = 'she''s; ok' " +
        "WHERE k = 2").collect()
      s.sql(s"SELECT payload FROM graft_lake('${t.root}') WHERE k = 2")
        .collect()(0).getString(0) shouldBe "she's; ok"
      // a per-column MERGE assignment whose literal hides a top-level
      // comma — the assignment split must not break on it
      s.sql(
        s"""MERGE INTO graft_lake('${t.root}') USING
           |(SELECT 3L AS k) src ON k = k
           |WHEN MATCHED THEN UPDATE SET payload = 'a, b; c\\'d', status = 'E'
           |""".stripMargin).collect()
      val r = s.sql(s"SELECT payload, status FROM graft_lake('${t.root}') " +
        "WHERE k = 3").collect()(0)
      r.getString(0) shouldBe "a, b; c'd"
      r.getString(1) shouldBe "E"
    }
  }

  test("native time-travel syntax: VERSION AS OF / TIMESTAMP AS OF / bare") {
    withExtendedSession { s =>
      val t = mkTable(s) // v0
      s.sql(s"DELETE FROM graft_lake('${t.root}') WHERE k <= 30").collect()
      // VERSION AS OF pins the pre-delete snapshot
      s.sql(s"SELECT count(*) AS n FROM graft_lake('${t.root}') VERSION AS OF 0")
        .collect()(0).getLong(0) shouldBe 90L
      // bare graft_lake('root') reads the LATEST snapshot
      s.sql(s"SELECT count(*) AS n FROM graft_lake('${t.root}')")
        .collect()(0).getLong(0) shouldBe 60L
      // TIMESTAMP AS OF resolves by wall clock from the commit timestamps
      val ts0 = t.history().filter(col("version") === 0)
        .select("commit_ts").collect()(0).getLong(0)
      s.sql(
        s"""SELECT count(*) AS n FROM graft_lake('${t.root}')
           |TIMESTAMP AS OF '$ts0'""".stripMargin)
        .collect()(0).getLong(0) shouldBe 90L
      // the suffix works inside joins/subqueries, and a trailing alias
      // that merely SPELLS version is not mistaken for the suffix
      s.sql(
        s"""SELECT count(*) AS n
           |FROM graft_lake('${t.root}') VERSION AS OF 0 v0
           |JOIN graft_lake('${t.root}') cur ON v0.k = cur.k""".stripMargin)
        .collect()(0).getLong(0) shouldBe 60L
      s.sql(s"SELECT count(*) AS n FROM graft_lake('${t.root}') version")
        .collect()(0).getLong(0) shouldBe 60L
      // a non-literal AS OF argument refuses loudly
      val e = intercept[Exception] {
        s.sql(s"SELECT * FROM graft_lake('${t.root}') VERSION AS OF (1+1)")
      }
      e.getMessage should include("integer")
      // a string mentioning the token is untouched
      s.sql("SELECT 'graft_lake(''x'') VERSION AS OF 1' AS lit")
        .collect()(0).getString(0) should include("VERSION AS OF")
    }
  }

  test("CHECK constraints: enforced inside every write, metadata-only lifecycle") {
    withExtendedSession { s =>
      import s.implicits._
      val t = mkTable(s) // k 1..90, amount = k*10 (all positive)
      val files0 = t.manifest(0).files.map(_.path).toSet
      s.sql(s"ALTER TABLE graft_lake('${t.root}') " +
        "ADD CONSTRAINT amount_pos CHECK (amount > 0)").collect()
      // metadata-only: zero data movement
      t.manifest(t.latestVersion).files.map(_.path).toSet shouldBe files0
      // a violating INSERT fails the WRITE with the constraint's name
      Seq((500L, "bad", "B", -5.0)).toDF("k", "payload", "status", "amount")
        .createOrReplaceTempView("bad_ins")
      val e1 = intercept[Exception] {
        s.sql(s"INSERT INTO graft_lake('${t.root}') SELECT * FROM bad_ins")
          .collect()
      }
      e1.getMessage should include("amount_pos")
      t.read().count() shouldBe 90L
      // a violating per-column MERGE assignment fails too
      Seq((5L, 1.0)).toDF("k", "delta").createOrReplaceTempView("bad_upd")
      val e2 = intercept[Exception] {
        s.sql(
          s"""MERGE INTO graft_lake('${t.root}') t USING bad_upd u ON t.k = u.k
             |WHEN MATCHED THEN UPDATE SET amount = -u.delta""".stripMargin)
          .collect()
      }
      e2.getMessage should include("amount_pos")
      // a violating UPDATE fails; a conforming one lands
      intercept[Exception] {
        s.sql(s"UPDATE graft_lake('${t.root}') SET amount = -1 WHERE k = 1")
          .collect()
      }.getMessage should include("amount_pos")
      s.sql(s"UPDATE graft_lake('${t.root}') SET amount = 77 WHERE k = 1")
        .collect()
      t.read().filter(col("k") === 1L).select("amount")
        .collect()(0).getDouble(0) shouldBe 77.0
      // NULL passes (SQL CHECK semantics): a null-amount row inserts
      s.sql(
        s"""INSERT INTO graft_lake('${t.root}')
           |SELECT 600L AS k, 'n' AS payload, 'N' AS status,
           |       CAST(NULL AS DOUBLE) AS amount""".stripMargin).collect()
      t.read().filter(col("k") === 600L).count() shouldBe 1L
      // adding a constraint the EXISTING table violates refuses
      intercept[Exception] {
        s.sql(s"ALTER TABLE graft_lake('${t.root}') " +
          "ADD CONSTRAINT impossible CHECK (k < 10)").collect()
      }.getMessage should include("existing rows violate")
      // a column referenced by a constraint cannot rename or drop
      intercept[Exception] {
        s.sql(s"ALTER TABLE graft_lake('${t.root}') " +
          "RENAME COLUMN amount TO money").collect()
      }.getMessage should include("amount_pos")
      // DROP CONSTRAINT re-opens the gate
      s.sql(s"ALTER TABLE graft_lake('${t.root}') DROP CONSTRAINT amount_pos")
        .collect()
      s.sql(s"UPDATE graft_lake('${t.root}') SET amount = -1 WHERE k = 2")
        .collect()
      t.read().filter(col("amount") < 0).count() shouldBe 1L
    }
  }

  test("ANALYZE: retrofit stats without moving data; pruning activates") {
    withExtendedSession { s =>
      import s.implicits._
      // v correlates with the key layout, but carries NO stats at create
      val df = (1L to 90L).map(k => (k, k * 2, s"v$k")).toDF("k", "v", "payload")
      val t = Lake.create(s, Lake.freshRoot(), df, "k", 3)
      def scanned(q: org.apache.spark.sql.DataFrame): Long =
        q.select(input_file_name()).distinct().count()
      // before: a v-filter reads every covering file (no bounds to skip on)
      // (rows from only one file match, but the PLAN scans all three —
      // check via the manifest-prune rule's effect on inputFiles)
      val files0 = t.manifest(0).files.map(_.path).toSet
      val stats = s.sql(s"ANALYZE TABLE graft_lake('${t.root}') " +
        "COMPUTE STATISTICS FOR COLUMNS v, payload").collect()(0)
      // zero data movement: same physical files, new manifest entries
      t.manifest(t.latestVersion).files.map(_.path).toSet shouldBe files0
      t.manifest(t.latestVersion).statsCols should contain allOf ("v", "payload")
      t.manifest(t.latestVersion).files.foreach { f =>
        f.cols.keySet should contain("v")
        f.scols.keySet should contain("payload")
        f.nulls.keySet should contain allOf ("v", "payload")
      }
      // pruning on the retrofitted column: only the covering file scans
      scanned(t.read().filter(col("v") <= 20L)) shouldBe 1L
      t.read().filter(col("v") <= 20L).count() shouldBe 10L
      // string bounds prune equality predicates too
      t.read().filter(col("payload") === "v5").count() shouldBe 1L
      // content untouched
      t.read().count() shouldBe 90L
      // unknown column refuses
      intercept[Exception] {
        s.sql(s"ANALYZE TABLE graft_lake('${t.root}') " +
          "COMPUTE STATISTICS FOR COLUMNS nope").collect()
      }.getMessage should include("unknown column")
    }
  }

  test("ANALYZE ... WHERE: scoped retrofit covers only selected files") {
    withExtendedSession { s =>
      import s.implicits._
      val df = (1L to 90L).map(k => (k, k * 2, s"v$k")).toDF("k", "v", "payload")
      val t = Lake.create(s, Lake.freshRoot(), df, "k", 3) // key files 1-30/31-60/61-90
      // scope to the first file's key range: only it gets v-bounds
      s.sql(s"ANALYZE TABLE graft_lake('${t.root}') " +
        "COMPUTE STATISTICS FOR COLUMNS v WHERE k <= 30").collect()
      val m = t.manifest(t.latestVersion)
      m.statsCols should contain("v")
      val covered = m.files.filter(_.cols.keySet.contains("v"))
      covered should have size 1
      covered.head.minKey shouldBe 1L
      // pruning on the covered subset fires; uncovered files stay
      // conservative (scanned, never skipped — correctness over I/O)
      def scanned(q: org.apache.spark.sql.DataFrame): Long =
        q.select(input_file_name()).distinct().count()
      scanned(t.read().filter(col("v") <= 20L)) shouldBe 1L
      t.read().filter(col("v") <= 20L).count() shouldBe 10L
      // a v-range that lives ONLY in uncovered files still answers right
      t.read().filter(col("v") > 130L).count() shouldBe 25L
      // content untouched; a predicate selecting nothing commits nothing
      t.read().count() shouldBe 90L
      val v0 = t.latestVersion
      s.sql(s"ANALYZE TABLE graft_lake('${t.root}') " +
        "COMPUTE STATISTICS FOR COLUMNS payload WHERE k > 1000").collect()
      t.latestVersion shouldBe v0
    }
  }

  test("graft_lake_detail + VACUUM OLDER THAN: admin surface by wall clock") {
    withExtendedSession { s =>
      val t = mkTable(s) // v0: 90 rows, 3 files
      t.renameColumn("payload", "note")
      t.addConstraint("amt_pos", "amount > 0.0")
      // DESCRIBE DETAIL from SQL: one metadata-only row
      val d = s.sql(s"SELECT * FROM graft_lake_detail('${t.root}')")
        .collect()(0)
      d.getAs[Int]("version") shouldBe 2
      d.getAs[String]("key_col") shouldBe "k"
      d.getAs[Int]("n_files") shouldBe 3
      d.getAs[Long]("n_rows") shouldBe 90L
      d.getAs[String]("renamed_columns") shouldBe "note<-payload"
      d.getAs[String]("check_constraints") should include("amt_pos")
      // wall-clock retention: everything older than v2's commit drops,
      // v2 (the snapshot current at that moment) stays resolvable
      val ts2 = t.history().filter(col("version") === 2)
        .select("commit_ts").collect()(0).getLong(0)
      val dry = s.sql(
        s"VACUUM graft_lake('${t.root}') OLDER THAN '$ts2' DRY RUN")
        .collect()(0)
      dry.getInt(0) shouldBe 2 // v0, v1 manifests would drop
      t.hasVersion(0) shouldBe true // dry run mutated nothing
      s.sql(s"VACUUM graft_lake('${t.root}') OLDER THAN '$ts2'").collect()
      t.hasVersion(0) shouldBe false
      t.hasVersion(2) shouldBe true
      t.read().count() shouldBe 90L
      // a moment before the earliest retained commit is a no-op
      val r0 = s.sql(s"VACUUM graft_lake('${t.root}') OLDER THAN '0'")
        .collect()(0)
      (r0.getInt(0), r0.getInt(1)) shouldBe ((0, 0))
    }
  }

  test("RESTORE TABLE / SHALLOW CLONE: undo and branch from SQL") {
    withExtendedSession { s =>
      val t = mkTable(s) // v0: 90 rows, 3 files
      s.sql(s"UPDATE graft_lake('${t.root}') SET status = 'B' " +
        "WHERE k <= 30").collect() // v1
      s.sql(s"DELETE FROM graft_lake('${t.root}') WHERE k > 60").collect() // v2
      // branch the post-update snapshot zero-copy
      val cloneRoot = Lake.freshRoot() + "/c"
      val cs = s.sql(s"CREATE TABLE graft_lake('$cloneRoot') SHALLOW CLONE " +
        s"graft_lake('${t.root}') VERSION AS OF 1").collect()(0)
      cs.getInt(0) shouldBe 0 // the clone's own v0
      val c = new graft.sources.LakeTable(s, cloneRoot)
      c.read().count() shouldBe 90L
      c.read().filter(col("status") === "B").count() shouldBe 30L
      // roll the source back; history stays inspectable
      s.sql(s"RESTORE TABLE graft_lake('${t.root}') TO VERSION AS OF 0")
        .collect()(0).getInt(0) shouldBe 3
      t.read().count() shouldBe 90L
      t.read().filter(col("status") === "B").count() shouldBe 0L
      t.manifest(3).operation shouldBe "restore-v0"
      t.hasVersion(2) shouldBe true
      // wall-clock pin: restore to the moment v2 was current
      val ts2 = t.history().filter(col("version") === 2)
        .select("commit_ts").collect()(0).getLong(0)
      s.sql(s"RESTORE TABLE graft_lake('${t.root}') " +
        s"TO TIMESTAMP AS OF '$ts2'").collect()
      t.read().count() shouldBe 60L
      // the clone commits independently — the source never sees it
      s.sql(s"DELETE FROM graft_lake('$cloneRoot') WHERE k <= 45").collect()
      c.read().count() shouldBe 45L
      t.read().count() shouldBe 60L
      // refusals: RESTORE needs a pin; CLONE needs a lake source
      intercept[Exception] {
        s.sql(s"RESTORE TABLE graft_lake('${t.root}') TO").collect()
      }.getMessage should include("VERSION AS OF")
      intercept[Exception] {
        s.sql(s"CREATE TABLE graft_lake('$cloneRoot') SHALLOW CLONE " +
          "other_table").collect()
      }.getMessage should include("graft_lake")
    }
  }

  test("VACUUM DRY RUN: reports the sweep without mutating anything") {
    withExtendedSession { s =>
      val t = mkTable(s)
      s.sql(s"OPTIMIZE graft_lake('${t.root}') FILES 2").collect() // v1
      val manifestsBefore = (0 to t.latestVersion).count(t.hasVersion)
      val dry = s.sql(
        s"VACUUM graft_lake('${t.root}') RETAIN 1 VERSIONS DRY RUN")
        .collect()(0)
      dry.getInt(0) shouldBe 1 // would drop v0's manifest
      dry.getInt(1) should be > 0 // and its unreferenced data files
      // NOTHING moved: v0 still reads
      (0 to t.latestVersion).count(t.hasVersion) shouldBe manifestsBefore
      t.snapshot(0).count() shouldBe 90L
      // the real sweep then removes exactly what the dry run reported
      val real = s.sql(s"VACUUM graft_lake('${t.root}') RETAIN 1 VERSIONS")
        .collect()(0)
      real.getInt(0) shouldBe dry.getInt(0)
      real.getInt(1) shouldBe dry.getInt(1)
      t.hasVersion(0) shouldBe false
      t.read().count() shouldBe 90L
    }
  }

  test("OPTIMIZE WHERE: predicate-scoped compaction rewrites only touched files") {
    withExtendedSession { s =>
      import s.implicits._
      // a partitioned table: 3 partitions, fragmented by per-key merges
      val df = (1L to 90L).map(k => (k, k % 3, s"v$k")).toDF("k", "p", "payload")
      val t = Lake.create(s, Lake.freshRoot(), df, "k", 2,
        partitionBy = Seq("p"))
      (1L to 6L).foreach(k =>
        t.merge(Seq((k, k % 3, s"m$k")).toDF("k", "p", "payload")))
      val before = t.manifest(t.latestVersion).files
      val otherParts = before.filterNot(_.path.contains("p=1")).map(_.path).toSet
      // compact ONLY partition 1
      val stats = s.sql(
        s"OPTIMIZE graft_lake('${t.root}') FILES 1 WHERE p = 1").collect()(0)
      val after = t.manifest(t.latestVersion)
      // untouched partitions carry by reference
      otherParts.subsetOf(after.files.map(_.path).toSet) shouldBe true
      stats.getInt(2) should be > 0 // rewrote something
      after.files.count(_.path.contains("p=1")) shouldBe 1
      // content unchanged
      t.read().count() shouldBe 90L
      rows(t.read().filter(col("k") === 4L).select("payload")) shouldBe
        Seq(Seq("m4"))
      // an OPTIMIZE WHERE matching nothing commits nothing
      val v = t.latestVersion
      s.sql(s"OPTIMIZE graft_lake('${t.root}') WHERE p = 99").collect()
      t.latestVersion shouldBe v
      // layout + WHERE COMPOSE: re-cluster just the selected partition —
      // only p=1 files rewrite (sorted by payload, which joins the stats
      // set so the new files carry payload bounds), others carry
      val preCluster = after.files.filterNot(_.path.contains("p=1"))
        .map(_.path).toSet
      s.sql(s"OPTIMIZE graft_lake('${t.root}') FILES 2 " +
        s"SORT BY (payload) WHERE p = 1").collect()
      val m2 = t.manifest(t.latestVersion)
      m2.operation shouldBe "optimize-where-sort"
      preCluster.subsetOf(m2.files.map(_.path).toSet) shouldBe true
      m2.statsCols should contain("payload")
      val p1 = m2.files.filter(_.path.contains("p=1"))
      p1 should not be empty
      all(p1.map(_.scols.contains("payload"))) shouldBe true
      t.read().count() shouldBe 90L
    }
  }

  test("DELETE DEFERRED FROM: predicate MOR delete from SQL") {
    withExtendedSession { s =>
      val t = mkTable(s) // k, payload, status, amount; 3 files
      val files0 = t.manifest(0).files.map(_.path).toSet
      val r = s.sql(s"DELETE DEFERRED FROM graft_lake('${t.root}') " +
        "WHERE amount < 200.0").collect()(0)
      r.getInt(2) shouldBe 0 // zero rewrites
      val m = t.manifest(t.latestVersion)
      m.files.map(_.path).toSet shouldBe files0
      m.tombstones should have size 1
      s.sql(s"SELECT count(*) FROM graft_lake('${t.root}')")
        .collect()(0).getLong(0) shouldBe 71L // keys 1..19 dead (k*10 < 200)
      // alias form; stacking
      s.sql(s"DELETE DEFERRED FROM graft_lake('${t.root}') AS t " +
        "WHERE t.k = 50").collect()
      s.sql(s"SELECT count(*) FROM graft_lake('${t.root}')")
        .collect()(0).getLong(0) shouldBe 70L
      // a deferred wipe without WHERE refuses
      intercept[IllegalArgumentException] {
        s.sql(s"DELETE DEFERRED FROM graft_lake('${t.root}')")
      }.getMessage should include("WHERE")
    }
  }

  test("OPTIMIZE BINPACK SPLIT: oversized files split from SQL") {
    withExtendedSession { s =>
      val t = mkTable(s) // 90 rows, 3 files
      s.sql(s"OPTIMIZE graft_lake('${t.root}') FILES 1").collect()
      t.manifest(t.latestVersion).files should have size 1
      s.sql(s"OPTIMIZE graft_lake('${t.root}') BINPACK 5 TARGET 30 SPLIT 40")
        .collect()
      val m = t.manifest(t.latestVersion)
      m.files.count(_.rows > 40L) shouldBe 0
      m.files should have size 3 // ceil(90 / 30)
      t.read().count() shouldBe 90L
    }
  }

  test("UPDATE: case-insensitive assignment targets resolve to the schema's case") {
    withExtendedSession { s =>
      val t = mkTable(s)
      s.sql(s"UPDATE graft_lake('${t.root}') SET PAYLOAD = 'CASED' WHERE k = 7")
        .collect()
      rows(t.read().filter(col("k") === 7L).select("payload")) shouldBe
        Seq(Seq("CASED"))
      // schema itself did not grow a second casing
      t.read().columns.count(_.equalsIgnoreCase("payload")) shouldBe 1
    }
  }

  test("non-lake statements delegate untouched to the default parser") {
    withExtendedSession { s =>
      // ordinary SQL still parses and runs
      s.sql("SELECT 1 + 1 AS two").collect()(0).getInt(0) shouldBe 2
      // DML on a non-lake target goes to the DEFAULT parser's analysis,
      // not our grammar: the failure speaks Spark's vocabulary (missing
      // table), not graft's
      val e = intercept[Exception] {
        s.sql("DELETE FROM no_such_table WHERE x = 1").collect()
      }
      e.getMessage should not include "graft lake SQL"
      // a SELECT mentioning graft_lake table functions still works (the
      // read path is untouched)
      val t = mkTable(s)
      s.sql(s"SELECT count(*) AS n FROM graft_lake_at('${t.root}', 0)")
        .collect()(0).getLong(0) shouldBe 90L
    }
  }

  test("n-column Morton parity and clustering: ZValueN(2) == ZValue") {
    // 2-D: a's bits at even positions, b's at odd (the 2-column Morton
    // layout OPTIMIZE ZORDER BY (a, b) clusters on)
    val rnd = new scala.util.Random(7)
    (1 to 200).foreach { _ =>
      val a = rnd.nextLong().abs & 0x7fffffffL
      val b = rnd.nextLong().abs & 0x7fffffffL
      org.apache.spark.sql.graft.ZValue.interleaveN(Array(a, b)) shouldBe
        (0 until 31).map(i =>
          (((a >> i) & 1L) << (2 * i)) | (((b >> i) & 1L) << (2 * i + 1))).sum
    }
    // 3-D: bit j of dim i sits at position 3j + i
    val z3 = org.apache.spark.sql.graft.ZValue.interleaveN(Array(1L, 1L, 1L))
    z3 shouldBe 7L // bits 0,1,2
    org.apache.spark.sql.graft.ZValue.interleaveN(Array(2L, 0L, 0L)) shouldBe 8L
    org.apache.spark.sql.graft.ZValue.interleaveN(Array(0L, 2L, 0L)) shouldBe 16L
    org.apache.spark.sql.graft.ZValue.interleaveN(Array(0L, 0L, 2L)) shouldBe 32L
    // expression evaluates via codegen inside a projection
    val df = spark.range(100).select(
      org.apache.spark.sql.graft.ZValue.zvalueN(Seq(
        col("id"), col("id") * 2, col("id") * 3)).as("z"), col("id"))
    df.collect().foreach { r =>
      r.getLong(0) shouldBe org.apache.spark.sql.graft.ZValue.interleaveN(
        Array(r.getLong(1), r.getLong(1) * 2, r.getLong(1) * 3))
    }
  }

  test("3-D z-order enables pruning on the third dimension") {
    withExtendedSession { s =>
      import s.implicits._
      // three interleaved dimensions, none correlated with the key
      val df = (0L until 4096L).map { i =>
        (i, (i * 7) % 64, (i * 13) % 64, (i * 29) % 64)
      }.toDF("k", "a", "b", "c")
      val t = Lake.create(s, Lake.freshRoot(), df, "k", 8)
      t.compact(8, Some(("zorder", Seq("a", "b", "c"))))
      val m = t.manifest(t.latestVersion)
      // every file carries bounds for all three dimensions
      m.files.foreach { f =>
        f.cols.keySet should contain allOf ("a", "b", "c")
      }
      // a 3-D box predicate scans fewer files than the table holds
      val scanned = t.read()
        .filter(col("a") < 16 && col("b") < 16 && col("c") < 16)
        .select(input_file_name()).distinct().count()
      scanned should be < 8L
      // and the answer matches the raw relation
      t.read().filter(col("a") < 16 && col("b") < 16 && col("c") < 16)
        .count() shouldBe
        df.filter(col("a") < 16 && col("b") < 16 && col("c") < 16).count()
    }
  }
  test("graft_lake_history / graft_lake_files: metadata introspection from SQL") {
    withExtendedSession { s =>
      val t = mkTable(s)
      s.sql(s"DELETE FROM graft_lake('${t.root}') WHERE k <= 30").collect()
      // history: one row per retained commit, newest first, metadata-only
      val hist = s.sql(
        s"SELECT version, operation FROM graft_lake_history('${t.root}')")
        .collect().map(r => (r.getInt(0), r.getString(1))).toSeq
      hist shouldBe Seq((1, "delete"), (0, "create"))
      // files: the resolved manifest as rows; v0 holds 3 files, v1 kept
      // 2 + rewrote 1 range away entirely (keys 1-30 erased)
      s.sql(s"SELECT count(*) FROM graft_lake_files('${t.root}', 0)")
        .collect()(0).getLong(0) shouldBe 3L
      val v1 = s.sql(
        s"""SELECT kind, n_rows, min_key, max_key
           |FROM graft_lake_files('${t.root}') ORDER BY min_key""".stripMargin)
        .collect()
      v1.map(_.getString(0)).foreach(_ shouldBe "data")
      v1.map(_.getLong(1)).sum shouldBe 60L
      v1.head.getLong(2) shouldBe 31L
      // tombstone files are listed with their kind
      locally {
        import s.implicits._
        t.deleteDeferred((31L to 35L).toDF("k"))
      }
      val kinds = s.sql(
        s"SELECT kind, count(*) AS n FROM graft_lake_files('${t.root}') GROUP BY 1")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      kinds("data") shouldBe 2L
      kinds("tombstone") shouldBe 1L
    }
  }
  test("INSERT INTO: append-only commit, PK conflict refusal, tombstone revive") {
    withExtendedSession { s =>
      import s.implicits._
      val t = mkTable(s) // keys 1..90, 3 files
      val v0Files = t.manifest(0).files.map(_.path).toSet
      Seq((200L, "NEW200", "I", 1.0), (15L, "MID15", "I", 2.0))
        .toDF("k", "payload", "status", "amount")
        .createOrReplaceTempView("ins_src")
      // key 15 EXISTS: the keyed table refuses the whole insert
      val e = intercept[IllegalArgumentException] {
        s.sql(s"INSERT INTO graft_lake('${t.root}') SELECT * FROM ins_src")
          .collect()
      }
      e.getMessage should include("duplicate existing keys")
      t.latestVersion shouldBe 0
      // conflict-free insert: adds files, removes NOTHING (append path) —
      // even though key 95 falls inside no file and 200 beyond all ranges
      Seq((95L, "NEW95", "I", 1.0), (200L, "NEW200", "I", 2.0))
        .toDF("k", "payload", "status", "amount")
        .createOrReplaceTempView("ins_src2")
      val stats = s.sql(
        s"INSERT INTO graft_lake('${t.root}') SELECT * FROM ins_src2")
        .collect()(0)
      stats.getInt(2) shouldBe 0 // rewritten_files: the append contract
      val m1 = t.manifest(1)
      v0Files.subsetOf(m1.files.map(_.path).toSet) shouldBe true
      t.read().count() shouldBe 92L
      rows(t.read().filter(col("k") >= 95L).select("k", "payload").orderBy("k")) shouldBe
        Seq(Seq(95L, "NEW95"), Seq(200L, "NEW200"))
      // a TOMBSTONED key conflicts like a live one: an append rewrites
      // nothing, so it cannot safely revive (the old physical row would
      // resurrect next to the new one) — MERGE does that
      t.deleteDeferred(Seq(7L).toDF("k"))
      Seq((7L, "BACK7", "I", 3.0)).toDF("k", "payload", "status", "amount")
        .createOrReplaceTempView("ins_src3")
      val e2 = intercept[IllegalArgumentException] {
        s.sql(s"INSERT INTO graft_lake('${t.root}') SELECT * FROM ins_src3")
          .collect()
      }
      e2.getMessage should include("tombstoned")
      t.read().count() shouldBe 91L // 92 minus the tombstoned key
      // MERGE through the tombstone revives cleanly
      s.sql(
        s"""MERGE INTO graft_lake('${t.root}') USING ins_src3 ON k = k
           |WHEN MATCHED THEN UPDATE SET *
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect()
      rows(t.read().filter(col("k") === 7L).select("payload")) shouldBe
        Seq(Seq("BACK7"))
      t.read().count() shouldBe 92L
      // widening through INSERT refuses — that evolution belongs to MERGE
      Seq((300L, 1, "I")).toDF("k", "amount", "payload")
        .select(col("k"), col("payload"), col("payload").as("status"),
          col("amount"))
        .createOrReplaceTempView("ins_bad")
      intercept[Exception] {
        s.sql(
          s"""INSERT INTO graft_lake('${t.root}')
             |SELECT k, payload, status, CAST(amount AS STRING) AS amount
             |FROM ins_bad""".stripMargin).collect()
      }
    }
  }
  test("CREATE TABLE AS: full SQL lifecycle; typed empty reads") {
    withExtendedSession { s =>
      import s.implicits._
      (1L to 50L).map(k => (k, k % 5, s"v$k")).toDF("k", "p", "payload")
        .createOrReplaceTempView("ctas_src")
      val root = graft.sources.Lake.freshRoot() + "/t"
      val stats = s.sql(
        s"""CREATE TABLE graft_lake('$root') KEY k FILES 4
           |PARTITIONED BY (p) STATS (payload)
           |AS SELECT * FROM ctas_src""".stripMargin).collect()(0)
      stats.getInt(3) should be >= 4 // added files (per partition slices)
      stats.getLong(4) shouldBe 50L
      val t = new graft.sources.LakeTable(s, root)
      t.manifest(0).partitionCols shouldBe Seq("p")
      t.manifest(0).statsCols shouldBe Seq("payload")
      t.read().count() shouldBe 50L
      // a second CREATE at the same root refuses
      intercept[IllegalArgumentException] {
        s.sql(s"CREATE TABLE graft_lake('$root') KEY k AS SELECT * FROM ctas_src")
          .collect()
      }.getMessage should include("already exists")
      // full-wipe DELETE leaves a TYPED empty relation (the recorded
      // schema survives an empty snapshot)
      s.sql(s"DELETE FROM graft_lake('$root')").collect()
      val empty = t.read()
      empty.count() shouldBe 0L
      empty.schema.fieldNames.toSeq shouldBe Seq("k", "payload", "p")
      // and SQL over the empty snapshot still works
      s.sql(s"SELECT count(*) AS n FROM graft_lake_at('$root')")
        .collect()(0).getLong(0) shouldBe 0L
      // CREATE TABLE on a NON-lake target delegates to the default
      // parser and runs as ordinary Spark DDL
      s.sql("CREATE TABLE plain_ctas_probe (x INT) USING parquet")
      s.catalog.tableExists("plain_ctas_probe") shouldBe true
      s.sql("DROP TABLE plain_ctas_probe")
    }
  }
  test("statements scan through SQL comments and semicolons") {
    withExtendedSession { s =>
      val t = mkTable(s)
      s.sql(
        s"""-- erase the cheap rows
           |DELETE FROM /* the lake */ graft_lake('${t.root}')
           |WHERE amount < 100.0; -- trailing note""".stripMargin).collect()
      t.read().count() shouldBe 81L // keys 1..9 erased (amount = k*10)
      // a comment containing a clause keyword must not truncate the scan
      import s.implicits._
      Seq((10L, "X", "U", 0.0)).toDF("k", "payload", "status", "amount")
        .createOrReplaceTempView("cm_src")
      s.sql(
        s"""MERGE INTO graft_lake('${t.root}') t
           |USING cm_src s ON t.k = s.k -- when matched, replace
           |WHEN MATCHED THEN UPDATE SET * /* when not matched: insert */
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect()
      rows(t.read().filter(col("k") === 10L).select("payload")) shouldBe
        Seq(Seq("X"))
    }
  }

  test("ALTER TABLE PARTITIONED BY: SQL partition-spec evolution") {
    withExtendedSession { s =>
      import s.implicits._
      val t = {
        val df = (1L to 90L).map(k => (k, k % 3, k % 5))
          .toDF("k", "a", "b")
        Lake.create(s, Lake.freshRoot(), df, "k", 2, partitionBy = Seq("a"))
      }
      val before = t.manifest(0).files.map(_.path)
      s.sql(s"ALTER TABLE graft_lake('${t.root}') PARTITIONED BY (b)")
        .collect()
      val m = t.manifest(t.latestVersion)
      m.partitionCols shouldBe Seq("b")
      m.files.map(_.path) shouldBe before // metadata-only
      s.sql(s"""INSERT INTO graft_lake('${t.root}')
               |SELECT id + 100 AS k, id % 3 AS a, id % 5 AS b
               |FROM range(1, 11)""".stripMargin).collect()
      t.read().count() shouldBe 100L
      // inserted rows carry a = id % 3 (ids 1..10), not k % 3
      t.read().filter(col("a") === 1L).count() shouldBe
        ((1L to 90L).count(_ % 3 == 1) + (1L to 10L).count(_ % 3 == 1))
      // un-partition via SQL with an empty column list
      s.sql(s"ALTER TABLE graft_lake('${t.root}') PARTITIONED BY ()")
        .collect()
      t.manifest(t.latestVersion).partitionCols shouldBe empty
    }
  }

  test("APPEND LOG tables: full SQL lifecycle; MERGE refuses with guidance") {
    withExtendedSession { s =>
      import s.implicits._
      val root = Lake.freshRoot()
      (1L to 40L).map(i => (i, s"e$i", i % 5)).toDF("id", "msg", "shard")
        .createOrReplaceTempView("applog_src")
      // keyless CTAS
      s.sql(s"""CREATE TABLE graft_lake('$root') APPEND LOG FILES 2
               |STATS (shard) AS SELECT * FROM applog_src""".stripMargin)
        .collect()
      val t = new graft.sources.LakeTable(s, root)
      t.manifest(0).keyCol shouldBe ""
      // INSERT INTO appends blind — re-inserting existing rows is fine
      s.sql(s"""INSERT INTO graft_lake('$root')
               |SELECT * FROM applog_src WHERE id <= 5""".stripMargin).collect()
      t.read().count() shouldBe 45L
      // predicate DML
      s.sql(s"DELETE FROM graft_lake('$root') WHERE shard = 4").collect()
      t.read().filter(col("shard") === 4L).count() shouldBe 0L
      s.sql(s"""UPDATE graft_lake('$root') SET msg = 'U'
               |WHERE shard = 0""".stripMargin).collect()
      t.read().filter(col("msg") === "U").count() shouldBe
        t.read().filter(col("shard") === 0L).count()
      // maintenance verbs
      s.sql(s"OPTIMIZE graft_lake('$root') BINPACK 1000").collect()
      s.sql(s"VACUUM graft_lake('$root') RETAIN 10 VERSIONS").collect()
      // keyed-only SQL refuses with the append-log message
      val e = intercept[Exception] {
        s.sql(s"""MERGE INTO graft_lake('$root') AS t
                 |USING applog_src AS s ON t.id = s.id
                 |WHEN MATCHED THEN UPDATE SET *""".stripMargin).collect()
      }
      e.getMessage should include("append-log")
      val e2 = intercept[Exception] {
        s.sql(s"DELETE DEFERRED FROM graft_lake('$root') WHERE shard = 1")
          .collect()
      }
      e2.getMessage should include("append-log")
    }
  }

  test("named tables: full lifecycle by name, no path spelled once") {
    withExtendedSession { s =>
      import s.implicits._
      s.conf.set("spark.graft.catalog.dir", Lake.freshRoot() + "/cat")
      (1L to 90L).map(k => (k, s"val$k", k * 10.0))
        .toDF("k", "payload", "amount")
        .createOrReplaceTempView("cat_src")
      // CREATE by name — managed root under the catalog dir
      s.sql("CREATE TABLE t_orders KEY k FILES 3 AS SELECT * FROM cat_src")
        .collect()
      // read by name (analyzer rule), incl. inside a join of itself
      s.sql("SELECT count(*) AS n FROM t_orders").collect()(0)
        .getLong(0) shouldBe 90L
      // INSERT by name
      s.sql("INSERT INTO t_orders SELECT k + 1000 AS k, payload, amount " +
        "FROM cat_src WHERE k <= 5").collect()
      // MERGE by name
      Seq((7L, "PATCHED", 0.0)).toDF("k", "payload", "amount")
        .createOrReplaceTempView("cat_upd")
      s.sql(
        """MERGE INTO t_orders AS tgt USING cat_upd AS src
          |ON tgt.k = src.k
          |WHEN MATCHED THEN UPDATE SET *""".stripMargin).collect()
      // UPDATE / DELETE by name
      s.sql("UPDATE t_orders SET payload = 'U' WHERE k = 8").collect()
      s.sql("DELETE FROM t_orders WHERE k = 9").collect()
      // maintenance + RESTORE-shaped verbs by name
      s.sql("OPTIMIZE t_orders BINPACK 1000").collect()
      s.sql("ANALYZE TABLE t_orders COMPUTE STATISTICS FOR COLUMNS amount")
        .collect()
      val cur = s.sql("SELECT payload FROM t_orders WHERE k IN (7, 8)")
        .collect().map(_.getString(0)).sorted
      cur shouldBe Array("PATCHED", "U")
      s.sql("SELECT count(*) AS n FROM t_orders").collect()(0)
        .getLong(0) shouldBe 94L // +5 inserts, -1 delete
      // time travel by NAME through Spark's native AS OF grammar
      s.sql("SELECT count(*) FROM t_orders VERSION AS OF 0").collect()(0)
        .getLong(0) shouldBe 90L
      s.sql("SELECT payload FROM t_orders VERSION AS OF 0 WHERE k = 7")
        .collect()(0).getString(0) shouldBe "val7"
      // catalog listing
      s.sql("SELECT name FROM graft_catalog()").collect()
        .map(_.getString(0)).toSeq shouldBe Seq("t_orders")
      // clone by name, then read the clone by name
      s.sql("CREATE TABLE t_orders2 SHALLOW CLONE t_orders VERSION AS OF 0")
        .collect()
      s.sql("SELECT count(*) FROM t_orders2").collect()(0)
        .getLong(0) shouldBe 90L
      // DROP unbinds the NAME only; the data stays and can re-bind
      val dropped = s.sql("DROP TABLE t_orders").collect()(0)
      val root = dropped.getString(1)
      intercept[Exception] {
        s.sql("SELECT count(*) FROM t_orders").collect()
      }
      s.sql(s"SELECT count(*) FROM graft_lake('$root')").collect()(0)
        .getLong(0) shouldBe 94L
      s.sql(s"CREATE TABLE t_orders USING graft_lake LOCATION '$root'")
        .collect()
      s.sql("SELECT count(*) FROM t_orders").collect()(0)
        .getLong(0) shouldBe 94L
      // the table FUNCTIONS take the name too (root args resolve through
      // the catalog; spelled paths keep working verbatim)
      s.sql("SELECT count(*) FROM graft_lake_history('t_orders')")
        .collect()(0).getLong(0) should be >= 1L
      s.sql("SELECT count(*) FROM graft_lake_at('t_orders', 0)")
        .collect()(0).getLong(0) shouldBe 90L
      // DROP → re-CREATE of a MANAGED name must work: managed roots are
      // unique per registration, so the fresh table never collides with
      // the dropped one's data (which stays at its own root)
      s.sql("DROP TABLE t_orders").collect()
      s.sql("CREATE TABLE t_orders KEY k FILES 2 " +
        "AS SELECT * FROM cat_src WHERE k <= 10").collect()
      s.sql("SELECT count(*) FROM t_orders").collect()(0)
        .getLong(0) shouldBe 10L
      s.sql(s"SELECT count(*) FROM graft_lake('$root')").collect()(0)
        .getLong(0) shouldBe 94L // the dropped table's data is untouched
      // malformed DROP (IF without EXISTS) delegates — the default parser
      // rejects it, and the binding survives
      intercept[Exception] { s.sql("DROP TABLE IF t_orders").collect() }
      s.sql("SELECT count(*) FROM t_orders").collect()(0)
        .getLong(0) shouldBe 10L
      // idempotent CREATE: IF NOT EXISTS on a bound name is a no-op
      s.sql("CREATE TABLE IF NOT EXISTS t_orders KEY k " +
        "AS SELECT * FROM cat_src").collect()
      s.sql("SELECT count(*) FROM t_orders").collect()(0)
        .getLong(0) shouldBe 10L // unchanged — nothing was created
      // rename the BINDING: the root never moves, the old name frees up
      s.sql("ALTER TABLE t_orders RENAME TO t_orders_v2").collect()
      s.sql("SELECT count(*) FROM t_orders_v2").collect()(0)
        .getLong(0) shouldBe 10L
      intercept[Exception] {
        s.sql("SELECT count(*) FROM t_orders").collect()
      }
    }
  }

  test("catalog: racing claims of one name get exactly one winner") {
    import graft.sources.LakeCatalog
    spark.conf.set("spark.graft.catalog.dir", Lake.freshRoot() + "/cat")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val attempts = (1 to 8).map { i =>
        pool.submit(new java.util.concurrent.Callable[Option[String]] {
          override def call(): Option[String] =
            scala.util.Try {
              LakeCatalog.register(spark, "raced_name", s"/tmp/raced-$i")
              s"/tmp/raced-$i"
            }.toOption
        })
      }
      val winners = attempts.flatMap(_.get())
      winners.size shouldBe 1 // one atomic claim, seven clean refusals
      LakeCatalog.lookup(spark, "raced_name") shouldBe Some(winners.head)
    } finally pool.shutdown()
  }

  test("named tables: refusal and delegation surface") {
    withExtendedSession { s =>
      import s.implicits._
      s.conf.set("spark.graft.catalog.dir", Lake.freshRoot() + "/cat")
      (1L to 9L).map(k => (k, s"v$k")).toDF("k", "payload")
        .createOrReplaceTempView("cat_ref_src")
      s.sql("CREATE TABLE bound_t KEY k AS SELECT * FROM cat_ref_src")
        .collect()
      // CREATE of an already-bound name refuses with guidance
      val dup = intercept[Exception] {
        s.sql("CREATE TABLE bound_t KEY k AS SELECT * FROM cat_ref_src")
          .collect()
      }
      dup.getMessage should include("already bound")
      dup.getMessage should include("DROP TABLE bound_t")
      // binding a location with no lake table refuses with guidance
      val noTable = intercept[Exception] {
        s.sql(s"CREATE TABLE ghost USING graft_lake LOCATION " +
          s"'${Lake.freshRoot()}/empty'").collect()
      }
      noTable.getMessage should include("no lake table at")
      // ...and the failed bind did NOT leak a catalog entry
      s.sql("SELECT count(*) FROM graft_catalog()").collect()(0)
        .getLong(0) shouldBe 1L
      // lake DML on an UNREGISTERED name delegates to Spark — the error
      // is Spark's own resolution failure, never a graft refusal
      val unk = intercept[Exception] {
        s.sql("DELETE FROM not_a_lake_table WHERE k = 1").collect()
      }
      unk.getMessage.toLowerCase should not include "graft"
      val unkRead = intercept[Exception] {
        s.sql("SELECT * FROM never_registered").collect()
      }
      unkRead.getMessage.toLowerCase should not include "graft"
      // DROP TABLE of an unregistered name delegates (Spark's own error)
      val unkDrop = intercept[Exception] {
        s.sql("DROP TABLE never_registered").collect()
      }
      unkDrop.getMessage.toLowerCase should not include "graft"
      // an UNBOUND two-part name delegates (bound_t lives at the bare
      // name; the db.* spelling is a different, unbound binding key)
      val multi = intercept[Exception] {
        s.sql("DELETE FROM db.bound_t WHERE k = 1").collect()
      }
      multi.getMessage.toLowerCase should not include "graft"
      // a TEMP VIEW sharing the name shadows the catalog binding on READS
      // (Spark's own resolution runs first) — writes still hit the lake
      (101L to 103L).map(k => (k, "view")).toDF("k", "payload")
        .createOrReplaceTempView("bound_t")
      s.sql("SELECT count(*) FROM bound_t").collect()(0)
        .getLong(0) shouldBe 3L
      s.catalog.dropTempView("bound_t")
      s.sql("SELECT count(*) FROM bound_t").collect()(0)
        .getLong(0) shouldBe 9L
      // Spark-grammar INSERT forms against a lake table name refuse with
      // graft guidance (the parser serves only INSERT INTO <name> <q>;
      // OVERWRITE would otherwise die in a baffling generic not-found) —
      // and the refusal leaves the table untouched
      intercept[Exception] {
        s.sql("INSERT OVERWRITE bound_t SELECT 1L AS k, 'x' AS payload")
          .collect()
      }.getMessage should include("INSERT form is not supported")
      s.sql("SELECT count(*) FROM bound_t").collect()(0).getLong(0) shouldBe 9L
      // ordinary CREATE TABLE still delegates untouched
      s.sql("CREATE TABLE plain_spark_t (id INT) USING parquet")
      s.sql("INSERT INTO plain_spark_t VALUES (1), (2)").collect()
      s.sql("SELECT count(*) FROM plain_spark_t").collect()(0)
        .getLong(0) shouldBe 2L
      s.sql("DROP TABLE plain_spark_t")
    }
  }

  test("persisted views: lifecycle, nesting, late binding, listing") {
    withExtendedSession { s =>
      import s.implicits._
      s.conf.set("spark.graft.catalog.dir", Lake.freshRoot() + "/cat")
      (1L to 40L).map(k => (k, if (k <= 30) "A" else "B", k * 2))
        .toDF("k", "grp", "amount").createOrReplaceTempView("vw_src")
      s.sql("CREATE TABLE vw_base KEY k FILES 2 AS SELECT * FROM vw_src")
        .collect()
      // view over the named table
      s.sql("CREATE VIEW v_a AS SELECT k, amount FROM vw_base " +
        "WHERE grp = 'A'").collect()
      s.sql("SELECT count(*) FROM v_a").collect()(0).getLong(0) shouldBe 30L
      // view over the VIEW (nesting through the same resolution)
      s.sql("CREATE VIEW v_a_sum AS SELECT sum(amount) AS total FROM v_a")
        .collect()
      s.sql("SELECT total FROM v_a_sum").collect()(0)
        .getLong(0) shouldBe (1L to 30L).map(_ * 2).sum
      // LATE BINDING on the base table: new rows show through both views
      s.sql("INSERT INTO vw_base SELECT k + 100 AS k, 'A' AS grp, " +
        "0L AS amount FROM vw_src WHERE k <= 4").collect()
      s.sql("SELECT count(*) FROM v_a").collect()(0).getLong(0) shouldBe 34L
      // LATE BINDING on the nested view: OR REPLACE of the inner view
      // changes what the outer view serves, with no outer-view touch
      s.sql("CREATE OR REPLACE VIEW v_a AS SELECT k, amount FROM vw_base " +
        "WHERE grp = 'B'").collect()
      s.sql("SELECT total FROM v_a_sum").collect()(0)
        .getLong(0) shouldBe (31L to 40L).map(_ * 2).sum
      // IF NOT EXISTS on a bound view is a no-op that returns the binding
      s.sql("CREATE VIEW IF NOT EXISTS v_a AS SELECT 1 AS one").collect()
      s.sql("SELECT count(*) FROM v_a").collect()(0).getLong(0) shouldBe 10L
      // the listing carries both kinds; a view's target is its query text
      val byKind = s.sql("SELECT name, kind, target FROM graft_catalog()")
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      byKind shouldBe Map("vw_base" -> "table", "v_a" -> "view",
        "v_a_sum" -> "view")
      s.sql("SELECT target FROM graft_catalog() WHERE name = 'v_a'")
        .collect()(0).getString(0) should include("grp = 'B'")
      // views work through spark.read.table too (same analyzer rule)
      s.read.table("v_a_sum").collect()(0)
        .getLong(0) shouldBe (31L to 40L).map(_ * 2).sum
      // QUALIFIED references resolve — the splice wraps in
      // SubqueryAlias(name), for tables, views, and their joins
      s.sql("SELECT vw_base.k FROM vw_base WHERE vw_base.k = 3")
        .collect()(0).getLong(0) shouldBe 3L
      s.sql("SELECT v_a.k FROM v_a WHERE v_a.k = 35").collect()(0)
        .getLong(0) shouldBe 35L
      s.sql(
        """SELECT count(*) FROM v_a JOIN vw_base
          |ON v_a.k = vw_base.k WHERE vw_base.grp = 'B'""".stripMargin)
        .collect()(0).getLong(0) shouldBe 10L
      s.sql("SELECT vw_base.k FROM vw_base VERSION AS OF 0 " +
        "WHERE vw_base.k = 7").collect()(0).getLong(0) shouldBe 7L
      // DROP VIEW unbinds; the base table is untouched
      s.sql("DROP VIEW v_a_sum").collect()
      intercept[Exception] { s.sql("SELECT * FROM v_a_sum").collect() }
      s.sql("SELECT count(*) FROM vw_base").collect()(0)
        .getLong(0) shouldBe 44L
    }
  }

  test("persisted views: refusals, cycles, and delegation") {
    withExtendedSession { s =>
      import s.implicits._
      s.conf.set("spark.graft.catalog.dir", Lake.freshRoot() + "/cat")
      (1L to 9L).map(k => (k, s"v$k")).toDF("k", "payload")
        .createOrReplaceTempView("vwr_src")
      s.sql("CREATE TABLE vwr_t KEY k AS SELECT * FROM vwr_src").collect()
      s.sql("CREATE VIEW vwr_v AS SELECT k FROM vwr_t WHERE k <= 3")
        .collect()
      // CREATE VIEW on a TABLE-bound name refuses (and OR REPLACE never
      // replaces a table binding)
      intercept[Exception] {
        s.sql("CREATE VIEW vwr_t AS SELECT 1 AS one").collect()
      }.getMessage should include("bound to a TABLE")
      intercept[Exception] {
        s.sql("CREATE OR REPLACE VIEW vwr_t AS SELECT 1 AS one").collect()
      }.getMessage should include("bound to a TABLE")
      // CREATE TABLE on a VIEW-bound name refuses
      intercept[Exception] {
        s.sql("CREATE TABLE vwr_v KEY k AS SELECT * FROM vwr_src").collect()
      }.getMessage should include("VIEW")
      // plain CREATE VIEW on a bound view refuses with OR REPLACE guidance
      intercept[Exception] {
        s.sql("CREATE VIEW vwr_v AS SELECT 1 AS one").collect()
      }.getMessage should include("CREATE OR REPLACE VIEW")
      // a command body refuses: a view must never execute side effects
      intercept[Exception] {
        s.sql("CREATE VIEW vwr_cmd AS DROP TABLE vwr_t").collect()
      }
      s.sql("SELECT count(*) FROM vwr_t").collect()(0).getLong(0) shouldBe 9L
      // ...including a command-SHAPED body that only ANALYZES to a write
      // command (INSERT INTO parses as a plain statement): it must refuse
      // WITHOUT executing — the validation itself must not insert
      s.sql("CREATE TABLE vwr_probe (id INT) USING parquet")
      intercept[Exception] {
        s.sql("CREATE VIEW vwr_ins AS INSERT INTO vwr_probe VALUES (1)")
          .collect()
      }.getMessage should include("not a command")
      s.sql("SELECT count(*) FROM vwr_probe").collect()(0)
        .getLong(0) shouldBe 0L // zero side effects, even from validation
      s.sql("DROP TABLE vwr_probe")
      // an unresolvable body refuses at CREATE, not at first read
      intercept[Exception] {
        s.sql("CREATE VIEW vwr_ghost AS SELECT * FROM no_such_base")
          .collect()
      }
      // views are READ-ONLY: every write/storage verb refuses loudly.
      // INSERT INTO is caught at PARSE (the lake verb's name resolution);
      // INSERT OVERWRITE delegates to Spark's grammar and is caught by
      // the analyzer guard instead — both loud, each naming the view
      intercept[Exception] {
        s.sql("INSERT INTO vwr_v SELECT 99 AS k").collect()
      }.getMessage should include("views have no storage")
      intercept[Exception] {
        s.sql("INSERT OVERWRITE vwr_v SELECT 99 AS k").collect()
      }.getMessage should include("read-only")
      intercept[Exception] {
        s.sql("UPDATE vwr_v SET k = 0 WHERE k = 1").collect()
      }.getMessage should include("VIEW")
      intercept[Exception] {
        s.sql("DELETE FROM vwr_v WHERE k = 1").collect()
      }.getMessage should include("VIEW")
      intercept[Exception] {
        s.sql("OPTIMIZE vwr_v BINPACK 10").collect()
      }.getMessage should include("VIEW")
      intercept[Exception] {
        s.sql("DROP TABLE vwr_v").collect()
      }.getMessage should include("use DROP VIEW")
      intercept[Exception] {
        s.sql("DROP VIEW vwr_t").collect()
      }.getMessage should include("use DROP TABLE")
      // ...but IF EXISTS tolerates the cross-kind miss: idempotent
      // cleanup no-ops, and both bindings survive untouched
      s.sql("DROP TABLE IF EXISTS vwr_v")
      s.sql("DROP VIEW IF EXISTS vwr_t")
      s.sql("DROP MATERIALIZED VIEW IF EXISTS vwr_t").collect()
      s.sql("SELECT count(*) FROM vwr_v").collect()(0).getLong(0) shouldBe 3L
      s.sql("SELECT count(*) FROM vwr_t").collect()(0).getLong(0) shouldBe 9L
      // time travel pins tables, not views
      intercept[Exception] {
        s.sql("SELECT * FROM vwr_v VERSION AS OF 0").collect()
      }.getMessage should include("time travel")
      // a view name is not a path: format surfaces and table functions
      // refuse instead of file-not-found
      intercept[Exception] {
        s.sql("SELECT * FROM graft_lake_history('vwr_v')").collect()
      }.getMessage should include("no root path")
      // REPLACE-created cycle: v1 → v2, then v2 REPLACED to read v1 —
      // each CREATE validated, the read hits the depth cap loudly
      s.sql("CREATE VIEW vwr_c1 AS SELECT k FROM vwr_t").collect()
      s.sql("CREATE VIEW vwr_c2 AS SELECT k FROM vwr_c1").collect()
      s.sql("CREATE OR REPLACE VIEW vwr_c1 AS SELECT k FROM vwr_c2")
        .collect()
      intercept[Exception] {
        s.sql("SELECT count(*) FROM vwr_c1").collect()
      }.getMessage should include("nesting depth")
      // a dropped base makes the view fail AT READ with a stale message
      s.sql("CREATE TABLE vwr_base2 KEY k AS SELECT * FROM vwr_src")
        .collect()
      s.sql("CREATE VIEW vwr_late AS SELECT k FROM vwr_base2").collect()
      s.sql("DROP TABLE vwr_base2").collect()
      intercept[Exception] {
        s.sql("SELECT * FROM vwr_late").collect()
      }.getMessage should include("stale")
      // TEMP VIEW DDL delegates untouched
      s.sql("CREATE TEMPORARY VIEW vwr_tmp AS SELECT 1 AS one")
      s.sql("SELECT one FROM vwr_tmp").collect()(0).getInt(0) shouldBe 1
      s.sql("DROP VIEW vwr_tmp") // Spark's own temp view, Spark's own DROP
      // a TWO-part name is a graft NAMESPACE binding (round 17); THREE
      // or more parts are never ours and delegate untouched
      s.sql("CREATE VIEW db.vwr_m AS SELECT 1 AS one").collect()
      s.sql("SELECT one FROM db.vwr_m").collect()(0).getInt(0) shouldBe 1
      s.sql("DROP VIEW db.vwr_m").collect()
      val multi = intercept[Exception] {
        s.sql("CREATE VIEW cat.db.vwr_m AS SELECT 1 AS one").collect()
      }
      multi.getMessage.toLowerCase should not include "graft"
      // a TEMP VIEW sharing a graft view's name shadows it on reads
      Seq((1L, 2L)).toDF("a", "b").createOrReplaceTempView("vwr_v")
      s.sql("SELECT b FROM vwr_v").collect()(0).getLong(0) shouldBe 2L
      s.catalog.dropTempView("vwr_v")
      s.sql("SELECT count(*) FROM vwr_v").collect()(0).getLong(0) shouldBe 3L
    }
  }
}
