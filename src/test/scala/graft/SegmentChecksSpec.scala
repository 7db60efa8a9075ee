package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sources.segment.{GraftCatalog, SegmentLog}

/** CHECK constraints on graft-segment tables: declaration validation
  * (analysis, existing-data scan, DDL interplay) and enforcement on
  * every write route — batch INSERT, CTAS, merge-on-read DML, the
  * streaming sink, and mergeSchema partial appends (SQL CHECK null
  * semantics: only definitively-FALSE violates). */
class SegmentChecksSpec extends SparkSpec {

  private val Fmt = "graft-segment"
  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  /** `body(catalog, warehouse)` over a fresh catalog with namespace `db`. */
  private def withNewCatalog[T](body: (String, String) => T): T = {
    val wh = tmp("graft-check-wh")
    GraftCatalog.withCatalog(spark, wh) { cat =>
      spark.sql(s"CREATE NAMESPACE $cat.db")
      body(cat, wh)
    }
  }

  private def messageChain(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString(" | ")

  test("declared constraint gates INSERTs; NULL passes (SQL CHECK semantics)") {
    withNewCatalog { (cat, _) =>
      spark.sql(s"CREATE TABLE $cat.db.t (k BIGINT, v BIGINT) " +
        "TBLPROPERTIES ('check.k_positive' = 'k > 0')")
      spark.sql(s"INSERT INTO $cat.db.t VALUES (1, 10), (2, 20)")
      // NULL k: unknown, passes — exactly Delta/ANSI CHECK
      spark.sql(s"INSERT INTO $cat.db.t VALUES (CAST(null AS BIGINT), 30)")
      val e = intercept[Exception] {
        spark.sql(s"INSERT INTO $cat.db.t VALUES (3, 30), (0, 40)")
      }
      assert(messageChain(e).contains("CHECK constraint k_positive"),
        s"got: ${messageChain(e)}")
      // the failed statement landed NOTHING (the commit never ran)
      assert(spark.sql(s"SELECT count(*) FROM $cat.db.t").head().getLong(0) == 3)
    }
  }

  test("ADD CONSTRAINT validates existing rows; UNSET drops enforcement") {
    withNewCatalog { (cat, _) =>
      spark.sql(s"CREATE TABLE $cat.db.t (k BIGINT)")
      spark.sql(s"INSERT INTO $cat.db.t VALUES (1), (2), (-5)")
      // refused: an existing row violates — with the count named
      val e = intercept[Exception] {
        spark.sql(s"ALTER TABLE $cat.db.t SET TBLPROPERTIES ('check.pos' = 'k > 0')")
      }
      assert(messageChain(e).contains("1 existing row"), s"got: ${messageChain(e)}")
      // a constraint the data satisfies declares fine and then enforces
      spark.sql(s"ALTER TABLE $cat.db.t SET TBLPROPERTIES ('check.pos' = 'k > -10')")
      intercept[Exception] { spark.sql(s"INSERT INTO $cat.db.t VALUES (-100)") }
      // dropping the constraint re-opens the gate
      spark.sql(s"ALTER TABLE $cat.db.t UNSET TBLPROPERTIES ('check.pos')")
      spark.sql(s"INSERT INTO $cat.db.t VALUES (-100)")
      assert(spark.sql(s"SELECT count(*) FROM $cat.db.t").head().getLong(0) == 4)
    }
  }

  test("UPDATE enforces on both DML tiers (copy-on-write and merge-on-read)") {
    withNewCatalog { (cat, _) =>
      for ((mode, tbl) <- Seq("cow" -> "tc", "mor" -> "tm")) {
        spark.sql(s"CREATE TABLE $cat.db.$tbl (k BIGINT, v BIGINT) " +
          s"TBLPROPERTIES ('rowLevelMode' = '$mode', 'check.v_cap' = 'v <= 100')")
        spark.sql(s"INSERT INTO $cat.db.$tbl VALUES (1, 10), (2, 20)")
        val e = intercept[Exception] {
          spark.sql(s"UPDATE $cat.db.$tbl SET v = v + 1000 WHERE k = 1")
        }
        assert(messageChain(e).contains("CHECK constraint v_cap"),
          s"[$mode] got: ${messageChain(e)}")
        // the failed UPDATE left the table intact; a legal one lands
        assert(spark.sql(s"SELECT sum(v) FROM $cat.db.$tbl").head().getLong(0) == 30)
        spark.sql(s"UPDATE $cat.db.$tbl SET v = v + 1 WHERE k = 1")
        assert(spark.sql(s"SELECT sum(v) FROM $cat.db.$tbl").head().getLong(0) == 31)
        // a MoR DELETE has no row values to check and must pass
        spark.sql(s"DELETE FROM $cat.db.$tbl WHERE k = 2")
        assert(spark.sql(s"SELECT count(*) FROM $cat.db.$tbl").head().getLong(0) == 1)
      }
    }
  }

  test("CTAS enforces declared constraints on the staged data itself") {
    withNewCatalog { (cat, _) =>
      val e = intercept[Exception] {
        spark.sql(s"CREATE TABLE $cat.db.bad TBLPROPERTIES ('check.pos' = 'id > 0') " +
          "AS SELECT id FROM range(-5, 5)")
      }
      assert(messageChain(e).contains("CHECK constraint pos"), s"got: ${messageChain(e)}")
      // the staged statement aborted: no table landed
      intercept[Exception] { spark.sql(s"SELECT * FROM $cat.db.bad") }
      spark.sql(s"CREATE TABLE $cat.db.good TBLPROPERTIES ('check.pos' = 'id > 0') " +
        "AS SELECT id FROM range(1, 5)")
      assert(spark.sql(s"SELECT count(*) FROM $cat.db.good").head().getLong(0) == 4)
    }
  }

  test("mergeSchema partial append without the constrained column passes as NULL") {
    withNewCatalog { (cat, wh) =>
      import spark.implicits._
      spark.sql(s"CREATE TABLE $cat.db.t (k BIGINT, v BIGINT) " +
        "TBLPROPERTIES ('check.k_pos' = 'k > 0')")
      spark.sql(s"INSERT INTO $cat.db.t VALUES (1, 10)")
      // the append carries only v: k lands null-backfilled → unknown → passes
      Seq(77L).toDF("v").write.format(Fmt)
        .option("mergeSchema", "true").mode("append").save(s"$wh/db/t")
      val rows = spark.sql(s"SELECT k, v FROM $cat.db.t ORDER BY v").collect()
      assert(rows.map(r => (if (r.isNullAt(0)) -1L else r.getLong(0), r.getLong(1))).toSeq ==
        Seq((1L, 10L), (-1L, 77L)))
      // but a carried column still enforces on the path API
      val e = intercept[Exception] {
        Seq((-3L, 1L)).toDF("k", "v").write.format(Fmt).mode("append").save(s"$wh/db/t")
      }
      assert(messageChain(e).contains("CHECK constraint k_pos"))
    }
  }

  test("the streaming sink enforces constraints per epoch") {
    withNewCatalog { (cat, wh) =>
      import spark.implicits._
      spark.sql(s"CREATE TABLE $cat.db.s (k BIGINT) " +
        "TBLPROPERTIES ('check.pos' = 'k > 0')")
      val src = s"${tmp("graft-check-src")}/in"
      val ckpt = tmp("graft-check-ckpt")
      Seq(1L, 2L, -3L).toDF("k").write.parquet(src)
      val q = spark.readStream.schema("k BIGINT").parquet(src)
        .writeStream.format(Fmt)
        .option("path", s"$wh/db/s").option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.awaitTermination(120000)
      }
      assert(messageChain(e).contains("CHECK constraint pos"))
      // the epoch never committed: no partial batch visible
      assert(spark.sql(s"SELECT count(*) FROM $cat.db.s").head().getLong(0) == 0)
    }
  }

  test("DDL breaking a referenced column is refused until the constraint drops") {
    withNewCatalog { (cat, _) =>
      spark.sql(s"CREATE TABLE $cat.db.t (k BIGINT, v BIGINT) " +
        "TBLPROPERTIES ('check.vcap' = 'v < 1000')")
      spark.sql(s"INSERT INTO $cat.db.t VALUES (1, 10)")
      val er = intercept[Exception] {
        spark.sql(s"ALTER TABLE $cat.db.t RENAME COLUMN v TO w")
      }
      assert(messageChain(er).contains("would break CHECK constraint vcap"))
      val ed = intercept[Exception] { spark.sql(s"ALTER TABLE $cat.db.t DROP COLUMN v") }
      assert(messageChain(ed).contains("would break CHECK constraint vcap"))
      // an UNREFERENCED column renames freely
      spark.sql(s"ALTER TABLE $cat.db.t RENAME COLUMN k TO kk")
      // and after dropping the constraint, the rename goes through
      spark.sql(s"ALTER TABLE $cat.db.t UNSET TBLPROPERTIES ('check.vcap')")
      spark.sql(s"ALTER TABLE $cat.db.t RENAME COLUMN v TO w")
      assert(spark.sql(s"SELECT kk, w FROM $cat.db.t").collect().toSeq.map(r =>
        (r.getLong(0), r.getLong(1))) == Seq((1L, 10L)))
    }
  }

  test("unsound declarations are refused: non-boolean, nondeterministic, subquery, unknown column") {
    withNewCatalog { (cat, _) =>
      spark.sql(s"CREATE TABLE $cat.db.t (k BIGINT)")
      def refuse(sql: String, fragment: String): Unit = {
        val e = intercept[Exception] {
          spark.sql(s"ALTER TABLE $cat.db.t SET TBLPROPERTIES ('check.c' = '$sql')")
        }
        assert(messageChain(e).toLowerCase.contains(fragment.toLowerCase),
          s"for [$sql] got: ${messageChain(e)}")
      }
      refuse("k + 1", "does not analyze")          // non-boolean
      refuse("nope > 0", "does not analyze")       // unknown column
      refuse("rand() > 0.5", "deterministic")      // nondeterministic
      // time-dependent: deterministic to Catalyst but Unevaluable as
      // written — would declare cleanly, then crash every write
      refuse("k < unix_millis(current_timestamp())", "evaluable at write time")
      // an EMPTY constraint name would look declared yet never enforce
      val en = intercept[Exception] {
        spark.sql(s"ALTER TABLE $cat.db.t SET TBLPROPERTIES ('check.' = 'k > 0')")
      }
      assert(messageChain(en).toLowerCase.contains("empty"),
        s"got: ${messageChain(en)}")
      // CREATE TABLE validates declarations the same way
      val e = intercept[Exception] {
        spark.sql(s"CREATE TABLE $cat.db.bad (k BIGINT) " +
          "TBLPROPERTIES ('check.c' = 'zzz > 0')")
      }
      assert(messageChain(e).contains("does not analyze"))
    }
  }

  test("constraints over struct fields gate writes like any predicate") {
    withNewCatalog { (cat, _) =>
      spark.sql(s"CREATE TABLE $cat.db.t " +
        "(k BIGINT, meta STRUCT<w: INT, lang: STRING>) " +
        "TBLPROPERTIES ('check.w_pos' = 'meta.w > 0')")
      spark.sql(s"INSERT INTO $cat.db.t SELECT id, " +
        "named_struct('w', CAST(id + 1 AS INT), 'lang', 'en') FROM range(0, 20)")
      // a violating struct field fails the whole write atomically
      val e = intercept[Exception] {
        spark.sql(s"INSERT INTO $cat.db.t VALUES (99, named_struct('w', -1, 'lang', 'de'))")
      }
      assert(messageChain(e).contains("w_pos"))
      // NULL struct (and NULL field) pass — SQL CHECK semantics
      spark.sql(s"INSERT INTO $cat.db.t VALUES (100, NULL)")
      spark.sql(s"INSERT INTO $cat.db.t VALUES " +
        "(101, named_struct('w', CAST(NULL AS INT), 'lang', 'fr'))")
      assert(spark.sql(s"SELECT count(*) FROM $cat.db.t").head().getLong(0) == 22)
    }
  }

  test("constraints survive the log: visible in SHOW TBLPROPERTIES, restored by rollback") {
    withNewCatalog { (cat, wh) =>
      spark.sql(s"CREATE TABLE $cat.db.t (k BIGINT)") // v0
      spark.sql(s"INSERT INTO $cat.db.t VALUES (1)") // v1
      spark.sql(s"ALTER TABLE $cat.db.t SET TBLPROPERTIES ('check.pos' = 'k > 0')") // v2
      val shown = spark.sql(s"SHOW TBLPROPERTIES $cat.db.t")
        .collect().map(r => (r.getString(0), r.getString(1))).toMap
      assert(shown.get("check.pos").contains("k > 0"))
      // rollback BEFORE the declaration removes it (state restores wholesale)
      val fs = SegmentLog.fs(wh, spark.sessionState.newHadoopConf())
      SegmentLog.rollback(fs, s"$wh/db/t", 1L)
      spark.sql(s"INSERT INTO $cat.db.t VALUES (-9)") // no constraint anymore
      assert(spark.sql(s"SELECT count(*) FROM $cat.db.t").head().getLong(0) == 2)
    }
  }
}
