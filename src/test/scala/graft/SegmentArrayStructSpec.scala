package graft

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.segment.{GraftCatalog, SegmentCodec, SegmentLog}

/** `array<struct-of-atomics>` on the graft-segment format — the
  * reference's own order `items[]` shape (array of (product_id,
  * quantity) records) and the per-doc span/annotation list of an LLM
  * pipeline. Elements store densely non-null like every other element
  * type; WITHIN an element each field carries its own presence byte,
  * so partially-null records round-trip exactly. Nested element
  * pruning (`SELECT items.quantity`) decodes only the required fields
  * per element (upcast code 9); whole-column pruning skips the bytes
  * without materializing anything. */
class SegmentArrayStructSpec extends SparkSpec {

  private val Fmt = "graft-segment"

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private val itemType = ArrayType(StructType(Seq(
    StructField("product_id", LongType),
    StructField("quantity", IntegerType),
    StructField("tag", StringType))))

  private def ordersDf = {
    val rows = (0 until 200).map { i =>
      val items =
        if (i % 7 == 0) null // whole-array null: the column's marker
        else Seq.tabulate(i % 4) { j =>
          // tag is null on every third element: per-FIELD presence
          Row(i.toLong * 10 + j, i % 5 + j, if (j % 3 == 2) null else s"t$i-$j")
        }
      Row(i.toLong, items)
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 3),
      StructType(Seq(StructField("k", LongType, nullable = false),
        StructField("items", itemType))))
  }

  test("array<struct> roundtrip: null arrays, empty arrays, null fields inside elements") {
    val dir = tmp("graft-arrst-rt")
    ordersDf.write.format(Fmt).mode("append").save(dir)
    val back = spark.read.format(Fmt).load(dir)
    assert(back.schema("items").dataType == itemType)
    val got = back.orderBy("k").collect()
    val want = ordersDf.orderBy("k").collect()
    assert(got.length == want.length)
    got.zip(want).foreach { case (g, w) => assert(g == w, s"row k=${w.getLong(0)}") }
    // explode-side sanity: aggregate over the nested quantity
    val sumQ = spark.read.format(Fmt).load(dir)
      .select(explode(col("items")).as("it")).agg(sum("it.quantity")).head().getLong(0)
    val wantQ = ordersDf.select(explode(col("items")).as("it"))
      .agg(sum("it.quantity")).head().getLong(0)
    assert(sumQ == wantQ)
  }

  test("deflate-compressed segments carry array<struct> too") {
    val dir = tmp("graft-arrst-z")
    ordersDf.write.format(Fmt).option("compress", "deflate").mode("append").save(dir)
    val got = spark.read.format(Fmt).load(dir).orderBy("k").collect()
    val want = ordersDf.orderBy("k").collect()
    assert(got.toSeq == want.toSeq)
  }

  test("nested element pruning decodes only required fields (upcast code 9)") {
    val st = StructType(Seq(StructField("a", LongType),
      StructField("b", StringType), StructField("c", IntegerType)))
    val req = StructType(Seq(StructField("a", LongType), StructField("c", IntegerType)))
    assert(SegmentCodec.upcast(ArrayType(st), ArrayType(req)) == 9)
    // a pruned element subset that reorders or retypes is NOT code 9
    intercept[IllegalArgumentException] {
      SegmentCodec.upcast(ArrayType(st),
        ArrayType(StructType(Seq(StructField("c", IntegerType), StructField("a", LongType)))))
    }
    val el1 = new GenericInternalRow(Array[Any](1L, UTF8String.fromString("x"), 5))
    val el2 = new GenericInternalRow(Array[Any](2L, null, 7)) // null mid-field skips cleanly
    val top = new GenericInternalRow(Array[Any](
      new GenericArrayData(Array[Any](el1, el2))))
    val bos = new ByteArrayOutputStream()
    SegmentCodec.writeValue(new DataOutputStream(bos), ArrayType(st), top, 0)
    val in = new DataInputStream(new ByteArrayInputStream(bos.toByteArray))
    val got = SegmentCodec.readPrunedValue(in, ArrayType(st), ArrayType(req))
      .asInstanceOf[org.apache.spark.sql.catalyst.util.GenericArrayData]
    assert(got.numElements() == 2)
    val g1 = got.getStruct(0, 2); val g2 = got.getStruct(1, 2)
    assert(g1.getLong(0) == 1L && g1.getInt(1) == 5)
    assert(g2.getLong(0) == 2L && g2.getInt(1) == 7)
    assert(in.read() == -1, "pruned read must consume the element bytes exactly")
  }

  test("SQL over the pruned shape: items.quantity on the format matches the source") {
    val dir = tmp("graft-arrst-prune")
    ordersDf.write.format(Fmt).mode("append").save(dir)
    val df = spark.read.format(Fmt).load(dir)
      .select(col("k"), col("items.quantity").as("qs")).orderBy("k")
    val got = df.collect()
    // non-decimal element fields keep the COLUMNAR path (elements
    // appendStruct + lockstep field appends); decimal fields would
    // route to the row reader via the vectorizable gate. Assert on
    // the FINAL plan (AQE renders ColumnarToRow only post-execution)
    assert(df.queryExecution.executedPlan.toString.contains("ColumnarToRow"),
      "array<struct> of appendable atomics must read columnar")
    val want = ordersDf.select(col("k"), col("items.quantity").as("qs"))
      .orderBy("k").collect()
    assert(got.toSeq == want.toSeq)
    // whole-column pruning: a projection WITHOUT items still reads
    val n = spark.read.format(Fmt).load(dir).select("k").count()
    assert(n == 200)
  }

  test("null ELEMENTS are refused loudly (dense element discipline)") {
    val dir = tmp("graft-arrst-nullel")
    val rows = Seq(Row(1L, Seq(Row(1L, 1, "a"), null)))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1),
      StructType(Seq(StructField("k", LongType), StructField("items", itemType))))
    val e = intercept[Exception] { df.write.format(Fmt).mode("append").save(dir) }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("densely non-null")), s"got: ${msgs(e)}")
  }

  test("deeper nesting, widening, and DEFAULT on array<struct> are refused loudly") {
    // array<struct< with a nested struct field >>: admitted since the
    // r14 full-algebra gate (row-read; see the full-algebra test)
    val deep = ArrayType(StructType(Seq(StructField("inner",
      StructType(Seq(StructField("x", IntegerType)))))))
    assert(SegmentCodec.supported(deep) && !SegmentCodec.vectorizable(deep))
    val warehouse = tmp("graft-arrst-wh")
    GraftCatalog.withCatalog(spark, warehouse) { cat =>
      spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
      spark.sql(s"CREATE TABLE $cat.db.t (k BIGINT, " +
        "items ARRAY<STRUCT<product_id: BIGINT, quantity: INT>>)")
      spark.sql(s"INSERT INTO $cat.db.t SELECT id, array(named_struct(" +
        "'product_id', id * 10, 'quantity', CAST(id % 5 AS INT))) FROM range(0, 20)")
      // widening an array<struct> column is not metadata-only — refused
      // (Spark's analyzer already blocks whole-array type updates; the
      // per-element form then reaches the catalog, which refuses nested
      // field alters — loud either way, never a silent mis-decode)
      val w = intercept[Exception] {
        spark.sql(s"ALTER TABLE $cat.db.t ALTER COLUMN items " +
          "TYPE ARRAY<STRUCT<product_id: BIGINT, quantity: BIGINT>>")
      }
      assert(w.getMessage.contains("CANNOT_UPDATE_FIELD") ||
        w.getMessage.contains("cannot change column"))
      val w2 = intercept[Exception] {
        spark.sql(s"ALTER TABLE $cat.db.t ALTER COLUMN items.element.quantity TYPE BIGINT")
      }
      assert(w2.getMessage != null && w2.getMessage.nonEmpty)
      // DEFAULT on an array<struct> column is refused with the backfill recipe
      val d = intercept[Exception] {
        spark.sql(s"ALTER TABLE $cat.db.t ADD COLUMN extra " +
          "ARRAY<STRUCT<a: INT>> DEFAULT array(struct(1))")
      }
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(d).exists(m => m.contains("atomic column types") ||
        m.contains("DEFAULT")), s"got: ${msgs(d)}")
      // and the SQL DML rewrite path (CoW UPDATE) streams the shape fine
      spark.sql(s"UPDATE $cat.db.t SET items = array(named_struct(" +
        "'product_id', CAST(0 AS BIGINT), 'quantity', CAST(0 AS INT))) " +
        "WHERE k % 10 = 0")
      val zeroed = spark.sql(
        s"SELECT count(*) FROM $cat.db.t WHERE items[0].product_id = 0 AND k % 10 = 0")
        .head().getLong(0)
      assert(zeroed == 2)
      assert(spark.sql(s"SELECT count(*) FROM $cat.db.t").head().getLong(0) == 20)
    }
  }

  // ---- r14: the SPAN-ANNOTATION shape — array<struct> elements (and
  // plain struct fields) carrying arrays of scalars ----

  private val spanType = ArrayType(StructType(Seq(
    StructField("s", IntegerType),
    StructField("e", IntegerType),
    StructField("tokens", ArrayType(IntegerType)))))

  private def spansDf = {
    val rows = (0 until 150).map { i =>
      val spans =
        if (i % 11 == 0) null // whole-array null
        else Seq.tabulate(i % 3) { j =>
          Row(j * 10, j * 10 + i % 7,
            // tokens NULL on every fourth span (field presence byte),
            // EMPTY on every fifth (n = 0), else j..j+i%4
            if (j % 4 == 3) null
            else if (j % 5 == 4) Seq.empty[Int]
            else (j to j + i % 4).toSeq)
        }
      Row(i.toLong, spans)
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 3),
      StructType(Seq(StructField("k", LongType, nullable = false),
        StructField("spans", spanType))))
  }

  test("span shape roundtrip: array<struct<s, e, tokens array<int>>> — null/empty token lists, null spans arrays") {
    val dir = tmp("graft-span-rt")
    spansDf.write.format(Fmt).mode("append").save(dir)
    val back = spark.read.format(Fmt).load(dir)
    assert(back.schema("spans").dataType == spanType)
    val df = back.orderBy("k")
    val got = df.collect()
    val want = spansDf.orderBy("k").collect()
    assert(got.length == want.length)
    got.zip(want).foreach { case (g, w) => assert(g == w, s"row k=${w.getLong(0)}") }
    // the shape reads COLUMNAR: the element field's token arrays ride
    // appendArray windows over the field child's element vector
    assert(SegmentCodec.vectorizable(spanType))
    assert(df.queryExecution.executedPlan.toString.contains("ColumnarToRow"),
      "the span shape must read columnar")
    // a plain STRUCT column with an array field is admitted too —
    // positional window put at the struct's row index
    val stArr = StructType(Seq(StructField("a", IntegerType),
      StructField("xs", ArrayType(FloatType))))
    assert(SegmentCodec.supported(stArr) && SegmentCodec.vectorizable(stArr))
    val dir2 = tmp("graft-span-st")
    val rows2 = (0 until 50).map(i => Row(i.toLong,
      if (i % 9 == 0) null else Row(i, Seq.tabulate(i % 4)(j => j * 0.5f + i))))
    spark.createDataFrame(spark.sparkContext.parallelize(rows2, 2),
        StructType(Seq(StructField("k", LongType, nullable = false),
          StructField("st", stArr))))
      .write.format(Fmt).mode("append").save(dir2)
    val back2 = spark.read.format(Fmt).load(dir2).orderBy("k").collect()
    assert(back2.length == 50 && back2(9).isNullAt(1) &&
      back2(7).getStruct(1).getSeq[Float](1) == Seq(7.0f, 7.5f, 8.0f))
  }

  test("span shape: nested element pruning keeps or skips the token arrays byte-exactly") {
    val dir = tmp("graft-span-prune")
    spansDf.write.format(Fmt).mode("append").save(dir)
    val back = spark.read.format(Fmt).load(dir)
    // project ONLY the scalar element fields: the token-array bytes
    // SKIP per element (upcast code 9 + the generic array skip)
    val ends = back.selectExpr("k", "transform(spans, x -> x.e) AS es")
      .orderBy("k").collect()
    val wantEnds = spansDf.selectExpr("k", "transform(spans, x -> x.e) AS es")
      .orderBy("k").collect()
    ends.zip(wantEnds).foreach { case (g, w) => assert(g == w) }
    // project ONLY the token arrays: scalars skip, arrays materialize
    val toks = back.selectExpr("k",
        "aggregate(flatten(filter(spans.tokens, x -> x IS NOT NULL)), 0L, (a, x) -> a + x) AS tt")
      .orderBy("k").collect()
    val wantToks = spansDf.selectExpr("k",
        "aggregate(flatten(filter(spans.tokens, x -> x IS NOT NULL)), 0L, (a, x) -> a + x) AS tt")
      .orderBy("k").collect()
    toks.zip(wantToks).foreach { case (g, w) => assert(g == w) }
    // null ELEMENTS inside a token array are refused with the dense
    // discipline (whole-array null and empty arrays are fine, above)
    val bad = Seq(Row(1L, Seq(Row(0, 1, Seq[Any](1, null, 3)))))
    val e = intercept[Exception] {
      spark.createDataFrame(spark.sparkContext.parallelize(bad, 1),
        StructType(Seq(StructField("k", LongType, nullable = false),
          StructField("spans", spanType))))
        .write.format(Fmt).mode("append").save(tmp("graft-span-bad"))
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("densely non-null")), s"got: ${msgs(e)}")
  }

  test("map<string, struct-of-atomics> values: exact roundtrip, columnar decode, loud bounds") {
    val vType = StructType(Seq(StructField("n", IntegerType),
      StructField("w", DoubleType), StructField("lbl", StringType)))
    val mType = MapType(StringType, vType)
    val rows = (0 until 120).map { i =>
      val m: Map[String, Row] =
        if (i % 13 == 0) null // whole-map null
        else (0 until i % 4).map { j =>
          s"k$j" -> (if (j % 3 == 2) null // NULL struct value
            else Row(i * 10 + j,
              i * 0.5 + j,
              if (j % 2 == 1) null else s"l$i-$j")) // null field inside
        }.toMap
      Row(i.toLong, m)
    }
    val df0 = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 3),
      StructType(Seq(StructField("k", LongType, nullable = false),
        StructField("m", mType))))
    val dir = tmp("graft-mapstruct")
    df0.write.format(Fmt).mode("append").save(dir)
    val back = spark.read.format(Fmt).load(dir)
    assert(back.schema("m").dataType == mType)
    // compare via sorted entry rendering (map iteration order is not
    // part of the contract)
    def render(df: org.apache.spark.sql.DataFrame) = df.selectExpr("k",
        "array_sort(transform(map_entries(m), " +
          "e -> concat(e.key, ':', coalesce(cast(e.value.n as string), 'x'), '/', " +
          "coalesce(cast(e.value.w as string), 'x'), '/', coalesce(e.value.lbl, 'x')))) AS es")
      .orderBy("k").collect()
    render(back).zip(render(df0)).foreach { case (g, w) => assert(g == w) }
    // map VALUE-STRUCT pruning (Spark narrows `m['k0'].n` to
    // map<string, struct<n>>): the scan SERVES the narrow type (upcast
    // code 10, r15 — it widened back to the full carrier before), so
    // the other value fields skip without materializing — results exact
    val prunedDf = back.selectExpr("k", "m['k0'].n AS n0").orderBy("k")
    val scanValueFields = prunedDf.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        r.scan.readSchema()("m").dataType
          .asInstanceOf[MapType].valueType.asInstanceOf[StructType].fieldNames.toSeq
    }.head
    assert(scanValueFields == Seq("n"),
      s"the scan must plan the PRUNED value struct, got $scanValueFields")
    val pruned = prunedDf.collect()
    val wantPruned = df0.selectExpr("k", "m['k0'].n AS n0").orderBy("k").collect()
    pruned.zip(wantPruned).foreach { case (g, w) => assert(g == w) }
    // ...on the ROW path too: projecting the DECIMAL value field keeps
    // the required map non-vectorizable (decimals have no append form),
    // so this is the code-10 pruned decode through the ROW reader —
    // and the int sibling `n` must skip undecoded. (Projecting `n`
    // would NOT cover this: Spark prunes the decimal away and the
    // narrow map goes columnar.) Plan asserted AFTER collect — AQE
    // renders no physical nodes before execution.
    val dRows = (0 until 60).map { i =>
      Row(i.toLong, Map(s"k${i % 2}" -> Row(i * 7,
        new java.math.BigDecimal(s"$i.25"))))
    }
    val dDir = tmp("graft-mapstruct-dec")
    spark.createDataFrame(spark.sparkContext.parallelize(dRows, 2),
      StructType(Seq(StructField("k", LongType, nullable = false),
        StructField("m", MapType(StringType, StructType(Seq(
          StructField("n", IntegerType), StructField("d", DecimalType(10, 2)))))))))
      .write.format(Fmt).mode("append").save(dDir)
    val dBack = spark.read.format(Fmt).load(dDir)
    val dPruned = dBack.selectExpr("k", "m['k0'].d AS d0").orderBy("k")
    val dScanFields = dPruned.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        r.scan.readSchema()("m").dataType
          .asInstanceOf[MapType].valueType.asInstanceOf[StructType].fieldNames.toSeq
    }.head
    assert(dScanFields == Seq("d"),
      s"the scan must plan the pruned decimal-only value struct, got $dScanFields")
    val dGot = dPruned.collect()
    assert(!dPruned.queryExecution.executedPlan.toString.contains("ColumnarToRow"),
      "a decimal-valued map must decode through the row reader")
    (0 until 60).foreach { i =>
      val r = dGot(i)
      assert(r.getLong(0) == i.toLong &&
        (if (i % 2 == 0) r.getDecimal(1).toString == s"$i.25" else r.isNullAt(1)),
        s"row $i: $r")
    }
    // empty maps and the columnar plan
    val cnt = back.selectExpr("k", "size(m) AS n")
    cnt.collect()
    assert(SegmentCodec.vectorizable(mType))
    val full = back.orderBy("k"); full.collect()
    assert(full.queryExecution.executedPlan.toString.contains("ColumnarToRow"),
      "map<string, struct> must read columnar")
    // decimal-fielded struct values take the ROW reader (no append
    // form for decimals) but stay supported — and results match
    val dType = MapType(StringType, StructType(Seq(
      StructField("d", DecimalType(10, 2)))))
    assert(SegmentCodec.supported(dType) && !SegmentCodec.vectorizable(dType))
    // deeper map-value shapes are admitted by the full-algebra gate
    // (row-read); the hard bound that remains is ATOMIC KEYS
    assert(SegmentCodec.supported(MapType(StringType, StructType(Seq(
      StructField("xs", ArrayType(IntegerType)))))))
    assert(SegmentCodec.supported(MapType(StringType, MapType(StringType, IntegerType))))
    assert(!SegmentCodec.supported(MapType(vType, IntegerType)))
  }

  test("the FULL nested-type algebra: arbitrary compositions roundtrip exactly; honesty gates hold") {
    // arrays of arrays, struct-in-struct, maps of arrays, maps of
    // arrays of structs, arrays of maps — the r13 refusal list, now
    // admitted by the recursive gate over the same three byte
    // disciplines
    val deepType = StructType(Seq(
      StructField("k", LongType, nullable = false),
      StructField("grid", ArrayType(ArrayType(IntegerType))),
      StructField("rec", StructType(Seq(
        StructField("inner", StructType(Seq(
          StructField("x", IntegerType),
          StructField("ys", ArrayType(StringType))))),
        StructField("w", DoubleType)))),
      StructField("keyed", MapType(StringType, ArrayType(StructType(Seq(
        StructField("a", IntegerType),
        StructField("zs", ArrayType(LongType))))))),
      StructField("flags", ArrayType(BooleanType)),
      StructField("monies", ArrayType(DecimalType(10, 2)))))
    assert(SegmentCodec.supported(deepType("grid").dataType))
    assert(SegmentCodec.supported(deepType("rec").dataType))
    assert(SegmentCodec.supported(deepType("keyed").dataType))
    assert(SegmentCodec.supported(deepType("flags").dataType))
    assert(SegmentCodec.supported(deepType("monies").dataType))
    val rows = (0 until 80).map { i =>
      Row(i.toLong,
        if (i % 11 == 0) null
        else Seq.tabulate(i % 3)(r => Seq.tabulate(r + 1)(c => r * 10 + c + i)),
        if (i % 7 == 0) null
        else Row(
          if (i % 5 == 0) null else Row(i, Seq.tabulate(i % 4)(j => s"y$i-$j")),
          i * 0.5),
        if (i % 13 == 0) null
        else Map(s"g${i % 2}" -> Seq(Row(i, Seq.tabulate(i % 3)(j => j.toLong + i)))),
        Seq.tabulate(i % 4)(j => j % 2 == 0),
        Seq.tabulate(i % 3)(j => new java.math.BigDecimal(s"$i.${10 + j}")))
    }
    val df0 = spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), deepType)
    val dir = tmp("graft-deep")
    df0.write.format(Fmt).mode("append").save(dir)
    val back = spark.read.format(Fmt).load(dir)
    assert(back.schema == deepType ||
      back.schema.map(f => (f.name, f.dataType)) == deepType.map(f => (f.name, f.dataType)))
    // order-free comparison via JSON rendering (map order is not a
    // contract)
    val got = back.selectExpr("k", "to_json(struct(grid, rec, keyed, flags, monies)) AS j")
      .orderBy("k").collect()
    val want = df0.selectExpr("k", "to_json(struct(grid, rec, keyed, flags, monies)) AS j")
      .orderBy("k").collect()
    got.zip(want).foreach { case (g, w) => assert(g == w, s"k=${w.getLong(0)}") }
    // deep shapes are supported but honestly ROW-read (no columnar arm)
    assert(!SegmentCodec.vectorizable(deepType("grid").dataType))
    assert(!SegmentCodec.vectorizable(deepType("rec").dataType))
    // inner-struct pruning decodes NARROW (recursive code 8 — r15):
    // the scan plans struct<inner: struct<x>> and `ys`/`w` skip
    // undecoded (measured ×3.0 vs parquet when this widened back)
    val innerDf = back.selectExpr("k", "rec.inner.x AS x").orderBy("k")
    val recScan = innerDf.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        r.scan.readSchema()("rec").dataType.asInstanceOf[StructType]
    }.head
    assert(recScan.fieldNames.toSeq == Seq("inner") &&
      recScan("inner").dataType.asInstanceOf[StructType].fieldNames.toSeq == Seq("x"),
      s"the scan must plan the recursively-pruned struct, got ${recScan.simpleString}")
    val inner = innerDf.collect()
    val wantInner = df0.selectExpr("k", "rec.inner.x AS x").orderBy("k").collect()
    inner.zip(wantInner).foreach { case (g, w) => assert(g == w) }
    // ...and through array/map carriers too: keyed is
    // map<string, array<struct<a, zs>>> — prune to element field `a`
    val keyedDf = back.selectExpr(
      "k", "transform(map_values(keyed)[0], e -> e.a) AS as0").orderBy("k")
    val keyedGot = keyedDf.collect()
    val keyedWant = df0.selectExpr(
      "k", "transform(map_values(keyed)[0], e -> e.a) AS as0").orderBy("k").collect()
    keyedGot.zip(keyedWant).foreach { case (g, w) => assert(g == w) }
    // dense-element discipline holds at EVERY depth: a null inside a
    // nested array refuses loudly
    val bad = Seq(Row(1L, Seq(Seq[Any](1, null)), null, null,
      Seq.empty[Boolean], Seq.empty[java.math.BigDecimal]))
    val e = intercept[Exception] {
      spark.createDataFrame(spark.sparkContext.parallelize(bad, 1), deepType)
        .write.format(Fmt).mode("append").save(tmp("graft-deep-bad"))
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("densely non-null")), s"got: ${msgs(e)}")
    // the deflate body stream carries the deep bytes unchanged (the
    // codec is layout-identical under compression)
    val dirZ = tmp("graft-deep-z")
    df0.write.format(Fmt).option("compress", "deflate").mode("append").save(dirZ)
    val gotZ = spark.read.format(Fmt).load(dirZ)
      .selectExpr("k", "to_json(struct(grid, rec, keyed, flags, monies)) AS j")
      .orderBy("k").collect()
    gotZ.zip(want).foreach { case (g, w) => assert(g == w, s"deflate k=${w.getLong(0)}") }
    // the SQL DDL face: CREATE TABLE with deep types through the
    // catalog, INSERT with SQL constructors, read back through SQL
    val whD = tmp("graft-deep-cat")
    GraftCatalog.withCatalog(spark, whD) { cat =>
      spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
      spark.sql(s"CREATE TABLE $cat.db.t (k BIGINT, " +
        "grid ARRAY<ARRAY<INT>>, " +
        "rec STRUCT<inner: STRUCT<x: INT, ys: ARRAY<STRING>>, w: DOUBLE>, " +
        "keyed MAP<STRING, ARRAY<STRUCT<a: INT, zs: ARRAY<BIGINT>>>>)")
      spark.sql(s"INSERT INTO $cat.db.t SELECT id, " +
        "array(array(CAST(id AS INT)), array(CAST(id AS INT), CAST(id + 1 AS INT))), " +
        "named_struct('inner', named_struct('x', CAST(id * 2 AS INT), " +
        "'ys', array(CAST(id AS STRING))), 'w', id * 0.5), " +
        "map('g', array(named_struct('a', CAST(id AS INT), " +
        "'zs', array(id, id + 10)))) FROM range(0, 30)")
      val agg = spark.sql("SELECT sum(grid[1][1]) AS g, sum(rec.inner.x) AS x, " +
        s"sum(keyed['g'][0].zs[1]) AS z FROM $cat.db.t").head()
      assert(agg.getLong(0) == (1 to 30).sum && agg.getLong(1) == 2L * (0 until 30).sum
        && agg.getLong(2) == (10 until 40).sum, agg.toString)
      // still refused: variant below top level, non-atomic map keys
      assert(!SegmentCodec.supported(ArrayType(
        org.apache.spark.sql.types.VariantType)))
      assert(!SegmentCodec.supported(StructType(Seq(
        StructField("v", org.apache.spark.sql.types.VariantType)))))
      assert(!SegmentCodec.supported(MapType(
        StructType(Seq(StructField("x", IntegerType))), IntegerType)))
      assert(!SegmentCodec.supported(MapType(ArrayType(IntegerType), IntegerType)))
    }
  }

  test("span shape: deeper nesting, DEFAULT, widening, blooms and NDV all refuse or no-op soundly") {
    // the r14 full-algebra gate admits these (row-read); what stays
    // refused everywhere is variant below top level
    assert(SegmentCodec.supported(ArrayType(StructType(Seq(
      StructField("xs", ArrayType(ArrayType(IntegerType))))))))
    assert(SegmentCodec.supported(StructType(Seq(
      StructField("m", MapType(StringType, IntegerType))))))
    assert(!SegmentCodec.supported(ArrayType(StructType(Seq(
      StructField("v", org.apache.spark.sql.types.VariantType))))))
    // DDL interplays on a declared span column: DEFAULT refused
    // (atomic-only), whole-column widen refused, bloom/NDV
    // declarations refused (non-hashable) — each loudly
    val warehouse = tmp("graft-span-wh")
    GraftCatalog.withCatalog(spark, warehouse) { cat =>
      spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
      spark.sql(s"CREATE TABLE $cat.db.t (k BIGINT, " +
        "spans ARRAY<STRUCT<s: INT, e: INT, tokens: ARRAY<INT>>>)")
      spark.sql(s"INSERT INTO $cat.db.t SELECT id, array(named_struct(" +
        "'s', CAST(0 AS INT), 'e', CAST(id AS INT), " +
        "'tokens', array(CAST(id AS INT)))) FROM range(0, 10)")
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      val d = intercept[Exception] {
        spark.sql(s"ALTER TABLE $cat.db.t ADD COLUMN s2 " +
          "ARRAY<STRUCT<s: INT, tokens: ARRAY<INT>>> DEFAULT array()")
      }
      assert(msgs(d).exists(m => m.contains("atomic column types") ||
        m.contains("DEFAULT")), s"got: ${msgs(d)}")
      val w = intercept[Exception] {
        spark.sql(s"ALTER TABLE $cat.db.t ALTER COLUMN spans " +
          "TYPE ARRAY<STRUCT<s: BIGINT, e: INT, tokens: ARRAY<INT>>>")
      }
      assert(w.getMessage != null)
      val b = intercept[Exception] {
        spark.sql(s"ALTER TABLE $cat.db.t SET TBLPROPERTIES ('ndvFor' = 'spans')")
      }
      assert(msgs(b).exists(_.contains("integer family")), s"got: ${msgs(b)}")
      // CHECK over a derived scalar of the shape works (analyzes + enforces)
      spark.sql(s"ALTER TABLE $cat.db.t SET TBLPROPERTIES " +
        "('check.has_spans' = 'size(spans) > 0')")
      val c = intercept[Exception] {
        spark.sql(s"INSERT INTO $cat.db.t VALUES (99, array())")
      }
      assert(msgs(c).exists(_.contains("CHECK constraint has_spans")), s"got: ${msgs(c)}")
      assert(spark.sql(s"SELECT count(*) FROM $cat.db.t").head().getLong(0) == 10)
    }
  }
}
