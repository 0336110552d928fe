package graft.ops

import graft.SparkSpec
import graft.schema.{FieldConstraints, FrictionlessField, FrictionlessSchema}
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

class ValidateSpec extends SparkSpec {

  private val schema = FrictionlessSchema(List(
    FrictionlessField("id", "integer", constraints = FieldConstraints(required = true, unique = true)),
    FrictionlessField("name", "string", constraints = FieldConstraints(required = true)),
    FrictionlessField("amount", "number"),
    FrictionlessField("day", "date")))

  private def df(rows: Row*) = spark.createDataFrame(
    java.util.List.of(rows: _*),
    StructType(Seq("_id", "id", "name", "amount", "day").map {
      case "_id" => StructField("_id", LongType)
      case n     => StructField(n, StringType)
    }))

  test("clean data validates with stats") {
    val report = Validate.validate(
      df(Row(1L, "1", "a", "1.5", "2024-01-01"), Row(2L, "2", "b", "", null)),
      schema, rowIdCol = Some("_id"))
    assert(report.valid && report.rowCount == 2 && report.errorCount == 0)
  }

  test("type, required, and unique errors with row numbers") {
    val report = Validate.validate(
      df(
        Row(1L, "x", "a", "1.5", "2024-01-01"),   // id type error
        Row(2L, "2", "", "oops", "not-a-date"),   // required + 2 type errors
        Row(3L, "3", "c", "1", "2024-01-01"),
        Row(4L, "3", "d", "1", "2024-01-01")),    // duplicate id=3
      schema, rowIdCol = Some("_id"))
    assert(!report.valid)
    assert(report.rowCount == 4)
    val codes = report.errors.groupBy(_.code).view.mapValues(_.size).toMap
    assert(codes("type-error") == 3)
    assert(codes("constraint-error") == 1)
    assert(codes("unique-error") == 1)
    val idErr = report.errors.find(e => e.code == "type-error" && e.fieldName == "id").get
    assert(idErr.rowNumber.contains(1L) && idErr.cell.contains("x"))
    // report serializes to JSON
    assert(report.toJson.contains("\"valid\":false"))
  }

  test("value constraints: pattern, enum, min/max, length bounds") {
    val s = FrictionlessSchema(List(
      FrictionlessField("code", "string", constraints = FieldConstraints(
        pattern = Some("[A-Z]{2}-[0-9]+"))),
      FrictionlessField("status", "string", constraints = FieldConstraints(
        enumVals = Some(List("open", "closed")))),
      FrictionlessField("qty", "integer", constraints = FieldConstraints(
        minimum = Some("1"), maximum = Some("100"))),
      FrictionlessField("tag", "string", constraints = FieldConstraints(
        minLength = Some(2), maxLength = Some(4)))))
    def d(rows: Row*) = spark.createDataFrame(
      java.util.List.of(rows: _*),
      StructType(Seq("_id", "code", "status", "qty", "tag").map {
        case "_id" => StructField("_id", LongType)
        case n     => StructField(n, StringType)
      }))
    val report = Validate.validate(d(
      Row(1L, "AB-12", "open", "50", "ok"), // clean
      Row(2L, "ab-12", "OPEN", "0", "x"), // pattern, enum, minimum, minLength
      Row(3L, "AB-12x", "closed", "101", "toolong"), // pattern (full match), maximum, maxLength
      Row(4L, null, "", "junk", null) // empty cells skip constraints; junk → type-error only
    ), s, rowIdCol = Some("_id"))
    val byRowField = report.errors
      .map(e => (e.rowNumber.get, e.fieldName) -> e.note).toMap
    assert(byRowField((2L, "code")).contains("pattern"))
    assert(byRowField((2L, "status")).contains("enum"))
    assert(byRowField((2L, "qty")).contains("minimum"))
    assert(byRowField((2L, "tag")).contains("minLength"))
    assert(byRowField((3L, "code")).contains("pattern"),
      "pattern must match the FULL value, not a prefix")
    assert(byRowField((3L, "qty")).contains("maximum"))
    assert(byRowField((3L, "tag")).contains("maxLength"))
    assert(byRowField((4L, "qty")) == "value does not conform to type integer",
      "uncastable cell reports type-error, not min/max")
    assert(!report.errors.exists(e => e.rowNumber.contains(4L) && e.fieldName != "qty"),
      "null/empty cells must not trip value constraints")
    assert(report.errorCount == 8)
    // codec roundtrip preserves every constraint
    val rt = FrictionlessSchema.fromJson(s.toJson)
    assert(rt == s, s"roundtrip drift: ${rt.toJson}")
  }

  test("enum compares the CAST value for non-string fields") {
    val s = FrictionlessSchema(List(
      FrictionlessField("qty", "integer", constraints = FieldConstraints(
        enumVals = Some(List("1", "2")))),
      FrictionlessField("amt", "number", constraints = FieldConstraints(
        enumVals = Some(List("1"))))))
    val data = spark.createDataFrame(
      java.util.List.of(
        Row(1L, "01", "1.0"),  // both cast-equal to an enum value → clean
        Row(2L, "3", "2.5")),  // both outside the enum
      StructType(Seq(StructField("_id", LongType),
        StructField("qty", StringType), StructField("amt", StringType))))
    val report = Validate.validate(data, s, rowIdCol = Some("_id"))
    val errs = report.errors.map(e => (e.rowNumber.get, e.fieldName)).toSet
    assert(errs == Set((2L, "qty"), (2L, "amt")),
      s""""01" and "1.0" must satisfy enum ["1"] after the cast: ${report.errors}""")
  }

  test("error cap bounds collection (limit_errors semantics)") {
    val rows = (1 to 50).map(i => Row(i.toLong, "bad", "n", "1", "2024-01-01"))
    val report = Validate.validate(df(rows: _*), schema, limitErrors = 10,
      rowIdCol = Some("_id"))
    assert(report.errorCount == 10)
  }

  // 1,000 rows in 6 partitions (first ids 0, 166, 333, 500, 666, 833);
  // bad cells at 165/166 and 332/333 straddle partition boundaries, and
  // row 332 holds two bad cells
  private val dirtySchema = FrictionlessSchema(List(
    FrictionlessField("n", "integer"),
    FrictionlessField("s", "string", constraints = FieldConstraints(required = true)),
    FrictionlessField("d", "date")))
  private val badN = Set(3L, 165L, 166L, 332L, 333L, 600L, 601L, 999L)
  private val emptyS = Set(4L, 332L, 700L)
  private def dirty = {
    import org.apache.spark.sql.functions._
    spark.range(0, 1000, 1, 6).select(
      when(col("id").isin(badN.toSeq: _*), lit("bad")).otherwise(col("id").cast("string")).as("n"),
      when(col("id").isin(emptyS.toSeq: _*), lit("")).otherwise(lit("x")).as("s"),
      lit("2024-01-01").as("d"))
  }
  // every bad cell in row order, then field order: (row number, field, cell, code)
  private val expectedDirty = (0L until 1000L).flatMap { id =>
    (if (badN(id)) Seq((id + 1, "n", Option("bad"), "type-error")) else Nil) ++
      (if (emptyS(id)) Seq((id + 1, "s", Option(""), "constraint-error")) else Nil)
  }

  test("one-pass report: first N error cells in row order, numbered like RowNumbers") {
    val numbered = RowNumbers.withRowNumbers(dirty, "_id")
    for (limit <- Seq(1, 2, 6, 8, 10, 1000)) {
      val report = Validate.validate(dirty, dirtySchema, limitErrors = limit,
        rowIdCol = Some("_id"))
      assert(report.rowCount == 1000L)
      assert(report.errors.map(e => (e.rowNumber.get, e.fieldName, e.cell, e.code)) ==
        expectedDirty.take(limit), s"limitErrors = $limit")
      assert(report.errorCount == math.min(limit, expectedDirty.size).toLong)
      // the caller's own numbering gives the identical report
      val viaColumn = Validate.validate(numbered, dirtySchema, limitErrors = limit,
        rowIdCol = Some("_id"))
      assert(viaColumn.toJson == report.toJson, s"limitErrors = $limit")
    }
    // the positional numbers are RowNumbers' numbers of the bad rows
    val ids = numbered.where(org.apache.spark.sql.functions.col("n") === "bad")
      .select("_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == badN.toSeq.sorted.map(_ + 1))
    // no row-number column asked for: no row numbers reported
    assert(Validate.validate(dirty, dirtySchema).errors.forall(_.rowNumber.isEmpty))
  }

  test("clean input validates in one Spark job with no shuffle") {
    val clean = dirty.where(!org.apache.spark.sql.functions.col("n").isin("bad") &&
      org.apache.spark.sql.functions.col("s") =!= "")
    val (report, jobs) = org.apache.spark.graft.JobRecorder.record(spark.sparkContext) {
      Validate.validate(clean, dirtySchema, rowIdCol = Some("_id"))
    }
    assert(report.valid && report.rowCount == 1000L - (badN ++ emptyS).size)
    val stagesPerJob = jobs.map(_.stageInfos.size)
    assert(stagesPerJob == Seq(1), "one job; a second stage would be a shuffle")
  }

  test("declared field absent from data → missing-field errors") {
    val narrow = spark.createDataFrame(
      java.util.List.of(Row("1", "a")),
      StructType(Seq(StructField("id", StringType), StructField("name", StringType))))
    val report = Validate.validate(narrow, schema)
    assert(report.errors.exists(_.code == "missing-field"))
  }

  test("requireUniqueKeys precondition") {
    intercept[IllegalArgumentException] {
      Validate.requireUniqueKeys(
        FrictionlessSchema(List(FrictionlessField("a", "string"))), Seq("a"))
    }
    intercept[IllegalArgumentException] {
      Validate.requireUniqueKeys(schema, Seq("name", "amount"))
    }
    assert(Validate.requireUniqueKeys(schema, Seq("id", "name", "amount", "day")) == List("id"))
  }
}
