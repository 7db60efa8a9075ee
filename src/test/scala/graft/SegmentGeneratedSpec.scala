package graft

import java.nio.file.Files

import graft.sources.segment.GraftCatalog

/** GENERATED columns on graft-segment tables (the Delta
  * `GENERATED ALWAYS AS` shape): declared at CREATE, persisted as
  * validated `gen.<col>` properties, computed/validated at the one
  * writer chokepoint. Omitted or NULL slots compute; explicit values
  * must match or the write fails loudly; the declaration is fixed for
  * the table's lifetime and DDL cannot silently orphan it. */
class SegmentGeneratedSpec extends SparkSpec {

  /** `body(catalog, warehouse)` over a fresh catalog with namespace `db`. */
  private def withFreshCat[T](body: (String, String) => T): T = {
    val wh = Files.createTempDirectory("graft-gen-wh").toString
    GraftCatalog.withCatalog(spark, wh) { cat =>
      spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
      body(cat, wh)
    }
  }

  private def msgs(t: Throwable): Seq[String] =
    if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)

  test("omitted and NULL generated columns compute; explicit matching values pass") {
    withFreshCat { (cat, _) =>
      spark.sql(s"CREATE TABLE $cat.db.t (k BIGINT, price DOUBLE, " +
        "cents BIGINT GENERATED ALWAYS AS (CAST(round(price * 100, 0) AS BIGINT)))")
      // omitted: the injected CURRENT_DEFAULT NULL lets the analyzer
      // accept the short column list; the writer computes
      spark.sql(s"INSERT INTO $cat.db.t (k, price) VALUES (1, 12.34), (2, 0.5)")
      // explicit NULL: computed too (null-means-compute)
      spark.sql(s"INSERT INTO $cat.db.t VALUES (3, 99.99, NULL)")
      // explicit CORRECT value: kept
      spark.sql(s"INSERT INTO $cat.db.t VALUES (4, 1.0, 100)")
      val got = spark.sql(s"SELECT k, cents FROM $cat.db.t ORDER BY k")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(got == Seq((1L, 1234L), (2L, 50L), (3L, 9999L), (4L, 100L)))
    }
  }

  test("explicit diverging values are refused loudly and nothing commits") {
    withFreshCat { (cat, _) =>
      spark.sql(s"CREATE TABLE $cat.db.t (k BIGINT, price DOUBLE, " +
        "cents BIGINT GENERATED ALWAYS AS (CAST(round(price * 100, 0) AS BIGINT)))")
      val e = intercept[Exception] {
        spark.sql(s"INSERT INTO $cat.db.t VALUES (1, 12.34, 9999)")
      }
      assert(msgs(e).exists(_.contains("diverges")), s"got: ${msgs(e)}")
      assert(spark.sql(s"SELECT count(*) FROM $cat.db.t").head().getLong(0) == 0L)
    }
  }

  test("DML: SET <gen> = NULL recomputes; an untouched stale value is refused with the recipe") {
    withFreshCat { (cat, _) =>
      spark.sql(s"CREATE TABLE $cat.db.t (k BIGINT, price DOUBLE, " +
        "cents BIGINT GENERATED ALWAYS AS (CAST(round(price * 100, 0) AS BIGINT)))")
      spark.sql(s"INSERT INTO $cat.db.t (k, price) SELECT id, id * 1.5 FROM range(0, 20)")
      // updating the input AND nulling the derived slot recomputes
      spark.sql(s"UPDATE $cat.db.t SET price = price * 2, cents = NULL WHERE k < 5")
      val got = spark.sql(s"SELECT k, price, cents FROM $cat.db.t WHERE k < 5 ORDER BY k")
        .collect()
      got.foreach(r => assert(
        r.getLong(2) == math.round(r.getDouble(1) * 100), r.toString))
      // updating the input WITHOUT nulling the derived slot would freeze
      // a stale derived value — refused, with the NULL recipe in the error
      val e = intercept[Exception] {
        spark.sql(s"UPDATE $cat.db.t SET price = price * 3 WHERE k >= 5 AND k < 8")
      }
      assert(msgs(e).exists(m => m.contains("diverges") && m.contains("NULL")),
        s"got: ${msgs(e)}")
      // the failed UPDATE left the table intact
      assert(spark.sql(s"SELECT count(*) FROM $cat.db.t").head().getLong(0) == 20L)
    }
  }

  test("generation interplays: CHECK sees computed values; declaration validation refuses bad exprs") {
    withFreshCat { (cat, _) =>
      // CHECK over the GENERATED column: enforcement runs after fill
      spark.sql(s"CREATE TABLE $cat.db.t (k BIGINT, price DOUBLE, " +
        "cents BIGINT GENERATED ALWAYS AS (CAST(round(price * 100, 0) AS BIGINT))) " +
        "TBLPROPERTIES ('check.pos' = 'cents >= 0')")
      spark.sql(s"INSERT INTO $cat.db.t (k, price) VALUES (1, 2.5)")
      val e1 = intercept[Exception] {
        spark.sql(s"INSERT INTO $cat.db.t (k, price) VALUES (2, -3.5)")
      }
      assert(msgs(e1).exists(_.contains("CHECK constraint pos")), s"got: ${msgs(e1)}")
      // wrong result type: refused at CREATE with the CAST recipe
      val e2 = intercept[Exception] {
        spark.sql(s"CREATE TABLE $cat.db.bad1 (k BIGINT, " +
          "d INT GENERATED ALWAYS AS (k + 1))")
      }
      // Spark's analyzer refuses the DDL face itself; the catalog's own
      // validation ("produces ... CAST inside the expression") backstops
      // the gen.<col>-property face
      assert(msgs(e2).exists(m => m.contains("incompatible") ||
        m.contains("produces")), s"got: ${msgs(e2)}")
      // referencing another generated column: refused
      val e3 = intercept[Exception] {
        spark.sql(s"CREATE TABLE $cat.db.bad2 (k BIGINT, " +
          "a BIGINT GENERATED ALWAYS AS (k + 1), " +
          "b BIGINT GENERATED ALWAYS AS (a + 1))")
      }
      assert(e3.getMessage != null && e3.getMessage.nonEmpty)
    }
  }

  test("the declaration is fixed: DDL cannot orphan or rewrite it") {
    withFreshCat { (cat, _) =>
      spark.sql(s"CREATE TABLE $cat.db.t (k BIGINT, price DOUBLE, " +
        "cents BIGINT GENERATED ALWAYS AS (CAST(round(price * 100, 0) AS BIGINT)))")
      spark.sql(s"INSERT INTO $cat.db.t (k, price) VALUES (1, 1.0)")
      // dropping the input breaks the expression — refused
      val e1 = intercept[Exception] { spark.sql(s"ALTER TABLE $cat.db.t DROP COLUMN price") }
      assert(msgs(e1).exists(_.contains("generated column cents")), s"got: ${msgs(e1)}")
      // renaming the generated column orphans the gen.<name> key — refused
      val e2 = intercept[Exception] {
        spark.sql(s"ALTER TABLE $cat.db.t RENAME COLUMN cents TO c2") }
      assert(msgs(e2).exists(_.contains("generated column")), s"got: ${msgs(e2)}")
      // SET / UNSET of gen.* after creation — refused
      val e3 = intercept[Exception] {
        spark.sql(s"ALTER TABLE $cat.db.t SET TBLPROPERTIES ('gen.cents' = 'k')") }
      assert(msgs(e3).exists(_.contains("fixed at CREATE")), s"got: ${msgs(e3)}")
      val e4 = intercept[Exception] {
        spark.sql(s"ALTER TABLE $cat.db.t UNSET TBLPROPERTIES ('gen.cents')") }
      assert(msgs(e4).exists(_.contains("fixed at CREATE")), s"got: ${msgs(e4)}")
      // the table still works after every refusal
      spark.sql(s"INSERT INTO $cat.db.t (k, price) VALUES (2, 2.0)")
      assert(spark.sql(s"SELECT sum(cents) FROM $cat.db.t").head().getLong(0) == 300L)
    }
  }

  test("hardening: self-reference, DEFAULT+generation, SET DEFAULT, and partial appends all refused") {
    withFreshCat { (cat, wh) =>
      // a self-referential expression would compile to an always-true
      // validation and a store-NULL fill — refused at declaration
      val e1 = intercept[Exception] {
        spark.sql(s"CREATE TABLE $cat.db.b1 (k BIGINT, c BIGINT) " +
          "TBLPROPERTIES ('gen.c' = 'c')")
      }
      assert(msgs(e1).exists(_.contains("references generated column")), s"got: ${msgs(e1)}")
      // an explicit DEFAULT on a generated column would hijack the
      // omission face — refused (the gen.* property face; Spark itself
      // refuses the DDL face)
      val e2 = intercept[Exception] {
        spark.sql(s"CREATE TABLE $cat.db.b2 (k BIGINT, c BIGINT DEFAULT 5) " +
          "TBLPROPERTIES ('gen.c' = 'k * 2')")
      }
      assert(msgs(e2).exists(_.contains("DEFAULT and a")), s"got: ${msgs(e2)}")
      // SET DEFAULT on a generated column after creation — refused
      spark.sql(s"CREATE TABLE $cat.db.t (k BIGINT, " +
        "c BIGINT GENERATED ALWAYS AS (k * 2))")
      val e3 = intercept[Exception] {
        spark.sql(s"ALTER TABLE $cat.db.t ALTER COLUMN c SET DEFAULT 5")
      }
      assert(msgs(e3).exists(_.contains("compute trigger")), s"got: ${msgs(e3)}")
      // a partial-schema append carrying inputs but NOT the generated
      // column would land silently-diverging NULL slots — refused
      spark.sql(s"INSERT INTO $cat.db.t (k) VALUES (1)")
      import spark.implicits._
      val e4 = intercept[Exception] {
        Seq(2L).toDF("k").write.format("graft-segment")
          .option("mergeSchema", "true").mode("append").save(s"$wh/db/t")
      }
      assert(msgs(e4).exists(_.contains("omits generated column")), s"got: ${msgs(e4)}")
      assert(spark.sql(s"SELECT sum(c) FROM $cat.db.t").head().getLong(0) == 2L)
    }
  }

  test("CTAS: staged data validates generation, inherits compression, and the declaration persists") {
    withFreshCat { (cat, _) =>
      // staged rows diverging from the declared expression fail the
      // whole atomic CTAS — no table appears
      val e = intercept[Exception] {
        spark.sql(s"CREATE TABLE $cat.db.bad TBLPROPERTIES ('gen.c' = 'k * 2') " +
          "AS SELECT id AS k, id AS c FROM range(0, 10)")
      }
      assert(msgs(e).exists(_.contains("diverges")), s"got: ${msgs(e)}")
      val e2 = intercept[Exception] { spark.sql(s"SELECT * FROM $cat.db.bad") }
      assert(e2.getMessage != null)
      // correct staged values pass, compression is inherited by the
      // staged segments themselves, and the declaration governs later
      // INSERTs (omitted c computes)
      spark.sql(s"CREATE TABLE $cat.db.ok TBLPROPERTIES " +
        "('gen.c' = 'k * 2', 'compress' = 'deflate') " +
        "AS SELECT id AS k, id * 2 AS c FROM range(0, 10)")
      spark.sql(s"INSERT INTO $cat.db.ok (k) VALUES (100)")
      assert(spark.sql(s"SELECT sum(c) FROM $cat.db.ok").head().getLong(0) ==
        (0 until 10).map(_ * 2).sum + 200L)
    }
  }

  test("generated columns survive the session boundary (manifest-persisted declaration)") {
    withFreshCat { (cat, wh) =>
      spark.sql(s"CREATE TABLE $cat.db.t (k BIGINT, price DOUBLE, " +
        "cents BIGINT GENERATED ALWAYS AS (CAST(round(price * 100, 0) AS BIGINT)))")
      spark.sql(s"INSERT INTO $cat.db.t (k, price) VALUES (1, 1.0)")
      // a FRESH catalog instance (new table object, manifest re-read):
      // the declaration and the omission face both still work
      GraftCatalog.withCatalog(spark, wh) { cat2 =>
        spark.sql(s"INSERT INTO $cat2.db.t (k, price) VALUES (2, 3.0)")
        assert(spark.sql(s"SELECT sum(cents) FROM $cat2.db.t").head().getLong(0) == 400L)
      }
    }
  }

  test("session-context and timezone-sensitive expressions are refused at declaration") {
    withFreshCat { (cat, _) =>
      // current_user()/current_database(): the analyzer folds these to
      // per-session LITERALS before any post-analysis walk, so the
      // refusal must land at parse level — the same table would compute
      // and validate different values across sessions otherwise
      for (fn <- Seq("current_user()", "current_database()", "current_catalog()",
          "upper(current_user)")) {
        val e = intercept[Exception] {
          spark.sql(s"CREATE TABLE $cat.db.bad (k BIGINT, c STRING) " +
            s"TBLPROPERTIES ('gen.c' = '$fn')")
        }
        assert(msgs(e).exists(_.contains("session")), s"$fn got: ${msgs(e)}")
      }
      // timezone-sensitive: CAST(ts AS STRING) and date_format read
      // spark.sql.session.timeZone, so stored-equals-derivable breaks
      // when the zone changes between sessions
      val e1 = intercept[Exception] {
        spark.sql(s"CREATE TABLE $cat.db.bad2 (ts TIMESTAMP, s STRING) " +
          "TBLPROPERTIES ('gen.s' = 'CAST(ts AS STRING)')")
      }
      assert(msgs(e1).exists(_.contains("timeZone")), s"got: ${msgs(e1)}")
      val e2 = intercept[Exception] {
        spark.sql(s"CREATE TABLE $cat.db.bad3 (d DATE, s STRING) " +
          "TBLPROPERTIES ('gen.s' = 'date_format(d, \"yyyy\")')")
      }
      assert(msgs(e2).exists(_.contains("timeZone")), s"got: ${msgs(e2)}")
      // special datetime strings fold to per-session literals INSIDE
      // the parser — refused textually (epoch, a fixed instant, passes)
      val e3 = intercept[Exception] {
        spark.sql(s"CREATE TABLE $cat.db.bad4 (k BIGINT, d DATE) " +
          "TBLPROPERTIES ('gen.d' = 'DATE \\'today\\'')")
      }
      assert(msgs(e3).exists(_.contains("special datetime")), s"got: ${msgs(e3)}")
      val e4 = intercept[Exception] {
        spark.sql(s"CREATE TABLE $cat.db.bad5 (k BIGINT, ts TIMESTAMP) " +
          "TBLPROPERTIES ('gen.ts' = 'TIMESTAMP \\'now\\'')")
      }
      assert(msgs(e4).exists(_.contains("special datetime")), s"got: ${msgs(e4)}")
      // bypass attempts the textual guard must see through: the
      // DOUBLE-QUOTED string form (parses as the same folded literal
      // under default doubleQuotedIdentifiers=false) and a bracketed
      // comment between the keyword and the literal
      val e4b = intercept[Exception] {
        spark.sql(s"CREATE TABLE $cat.db.bad5b (k BIGINT, d DATE) " +
          "TBLPROPERTIES ('gen.d' = 'DATE \"today\"')")
      }
      assert(msgs(e4b).exists(_.contains("special datetime")), s"got: ${msgs(e4b)}")
      val e4c = intercept[Exception] {
        spark.sql(s"CREATE TABLE $cat.db.bad5c (k BIGINT, d DATE) " +
          "TBLPROPERTIES ('gen.d' = 'DATE/* c */\\'today\\'')")
      }
      assert(msgs(e4c).exists(_.contains("special datetime")), s"got: ${msgs(e4c)}")
      // ...and comment-stripping must respect string literals: '--'
      // INSIDE a string is data, not a comment — a guard that truncated
      // there would let a 'today' after it escape the scan (and this
      // legitimate declaration must keep working regardless)
      spark.sql(s"CREATE TABLE $cat.db.okdash (k BIGINT, s STRING) " +
        "TBLPROPERTIES ('gen.s' = 'concat(\\'a--b\\', CAST(k AS STRING))')")
      spark.sql(s"INSERT INTO $cat.db.okdash (k) VALUES (7)")
      assert(spark.sql(s"SELECT s FROM $cat.db.okdash").head().getString(0) == "a--b7")
      val e4d = intercept[Exception] {
        spark.sql(s"CREATE TABLE $cat.db.bad5d (k BIGINT, s STRING) " +
          "TBLPROPERTIES ('gen.s' = " +
          "'concat(\\'a--b\\', CAST(DATE \\'today\\' AS STRING))')")
      }
      assert(msgs(e4d).exists(_.contains("special datetime")), s"got: ${msgs(e4d)}")
      // ...and BACKSLASH-escaped quotes inside literals must not desync
      // the comment scanner: in '\''--' the \' is an escaped quote (the
      // default escapedStringLiterals=false), so the string stays open
      // through the '--' — a scanner that closed at \' would strip the
      // rest of the line as a comment and miss DATE 'today'
      val e4e = intercept[IllegalArgumentException] {
        graft.sources.segment.SegmentGenerated.requireAnalyzable(spark,
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("k",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("s",
              org.apache.spark.sql.types.StringType))),
          "s", "concat('\\'--', CAST(DATE 'today' AS STRING))", Set.empty)
      }
      assert(e4e.getMessage.contains("special datetime"), e4e.getMessage)
      spark.sql(s"CREATE TABLE $cat.db.okepoch (k BIGINT, d DATE) " +
        "TBLPROPERTIES ('gen.d' = 'DATE \\'epoch\\'')")
      spark.sql(s"INSERT INTO $cat.db.okepoch (k) VALUES (1)")
      assert(spark.sql(s"SELECT d FROM $cat.db.okepoch").head()
        .getDate(0).toString == "1970-01-01")
      // zone-FREE date forms stay usable: CAST(date AS STRING) and
      // year() never consult the session zone
      spark.sql(s"CREATE TABLE $cat.db.ok (d DATE, s STRING, y INT) " +
        "TBLPROPERTIES ('gen.s' = 'CAST(d AS STRING)', 'gen.y' = 'year(d)')")
      spark.sql(s"INSERT INTO $cat.db.ok (d) VALUES (DATE'2024-03-05')")
      val r = spark.sql(s"SELECT s, y FROM $cat.db.ok").head()
      assert(r.getString(0) == "2024-03-05" && r.getInt(1) == 2024)
      // a real column that happens to share a session-context keyword's
      // name resolves as the COLUMN (column resolution wins) — usable
      spark.sql(s"CREATE TABLE $cat.db.ok2 (user STRING, c STRING) " +
        "TBLPROPERTIES ('gen.c' = 'upper(user)')")
      spark.sql(s"INSERT INTO $cat.db.ok2 (user) VALUES ('bob')")
      assert(spark.sql(s"SELECT c FROM $cat.db.ok2").head().getString(0) == "BOB")
    }
  }
}
