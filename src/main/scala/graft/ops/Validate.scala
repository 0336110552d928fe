package graft.ops

import graft.schema.{FrictionlessSchema, Sanitizer, TypeMapping}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Row validation against a frictionless schema — the reference's de-facto
  * predicate/constraint engine (V1, aircan/dependencies/utils/validation.py:
  * 11-102; abort-on-invalid at pipeline_ckan_to_bigquery.py:287-317).
  *
  * Spark-first design: ONE shuffle-free Spark job. Each row gets an array of
  * error structs from `try`-style cast probes (`cast(raw) IS NULL AND raw IS
  * NOT NULL` = type error) and required/value-constraint probes; each
  * partition returns its row count and its first `limitErrors` error cells
  * in scan order. The partitions' cells are concatenated in partition order
  * and, when the caller has no row-number column, numbered from the
  * per-partition counts by [[RowNumbers]]' own offsets function — so the
  * reference's streaming counter needs no pre-pass, no separate count and
  * no per-row loop outside Spark. Unique-key duplicate detection is one
  * aggregate pass per declared unique field. Error cap default 1000
  * matches the reference (validation.py:21).
  */
object Validate {

  final case class ValidationError(
      rowNumber: Option[Long],
      fieldName: String,
      cell: Option[String],
      code: String,
      note: String
  )

  final case class ValidationReport(
      valid: Boolean,
      rowCount: Long,
      errorCount: Long,
      errors: Seq[ValidationError]
  ) {
    def toJson: String = {
      def esc(x: String) =
        "\"" + x.flatMap {
          case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
          case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
        } + "\""
      val errs = errors.map { e =>
        s"""{"rowNumber":${e.rowNumber.getOrElse("null")},"fieldName":${esc(e.fieldName)},""" +
          s""""cell":${e.cell.map(esc).getOrElse("null")},"code":${esc(e.code)},"note":${esc(e.note)}}"""
      }.mkString("[", ",", "]")
      s"""{"valid":$valid,"stats":{"rows":$rowCount,"errors":$errorCount},"errors":$errs}"""
    }
  }

  /** Validate an all-string frame (as produced by `Reader.allStringSchema`
    * CSV phase 1) against the declared schema.
    *
    * @param rowIdCol the row-number column for error reporting. When the
    *   frame has it, its values are the row numbers; when it is absent,
    *   rows are numbered 1, 2, ... in partition order (what
    *   [[RowNumbers.withRowNumbers]] would have injected). `None` reports
    *   no row numbers.
    */
  def validate(
      raw: DataFrame,
      schema: FrictionlessSchema,
      limitErrors: Int = 1000,
      limitRows: Option[Long] = None,
      rowIdCol: Option[String] = None
  ): ValidationReport = {
    val fs = schema.sanitized
    val df0 = limitRows.map(n => raw.limit(n.toInt)).getOrElse(raw)
    val present = df0.columns.toSet

    val errStruct = (row: Column, field: String, cell: Column, code: String, note: String) =>
      struct(
        row.cast("long").as("rowNumber"),
        lit(field).as("fieldName"),
        cell.cast("string").as("cell"),
        lit(code).as("code"),
        lit(note).as("note")
      )
    val rowId: Column = rowIdCol.filter(present.contains).map(col)
      .getOrElse(lit(null).cast("long"))

    val probes: Seq[Column] = fs.fields.flatMap { f =>
      if (!present.contains(f.name)) {
        // missing column: structural error reported once per row
        Seq(errStruct(rowId, f.name, lit(null), "missing-field",
          s"declared field ${f.name} absent from data"))
      } else {
        val c = col(f.name)
        val target = TypeMapping.frictionlessToSpark(f.fieldType)
        // try_cast, not cast: Spark 4 runs ANSI mode by default, where a
        // plain cast THROWS on malformed input instead of returning null.
        val tryCast = expr(s"try_cast(`${f.name}` AS ${target.sql})")
        val typeProbe =
          if (target == org.apache.spark.sql.types.StringType) None
          else Some(
            when(c.isNotNull && length(trim(c)) > 0 && tryCast.isNull,
              errStruct(rowId, f.name, c, "type-error",
                s"value does not conform to type ${f.fieldType}")))
        val requiredProbe =
          if (!f.constraints.required) None
          else Some(
            when(c.isNull || length(trim(c)) === 0,
              errStruct(rowId, f.name, c, "constraint-error", "required field is empty")))
        // value constraints fire only on present, non-empty cells
        // (frictionless semantics — emptiness is `required`'s concern) and,
        // for minimum/maximum, only on cells that cast (type-error covers
        // the rest)
        val cell = c.isNotNull && length(trim(c)) > 0
        val k = f.constraints
        val patternProbe = k.pattern.map(p =>
          when(cell && !c.rlike("^(?:" + p + ")$"),
            errStruct(rowId, f.name, c, "constraint-error",
              s"value does not match pattern $p")))
        // frictionless applies enum to the CAST value, not the raw cell:
        // for an integer field, "01" and "1" both satisfy enum ["1"].
        // Non-casting cells are type-error's concern, mirroring min/max.
        // Enum literals go through try_cast too (ANSI cast would throw on
        // a malformed literal); <=> makes an uncastable literal simply
        // never match instead of nulling the whole disjunction.
        def enumMiss(vs: List[String]): Column =
          // Table Schema semantics: the value must match a member of the
          // enum array, so an empty enum admits NO value — every non-empty
          // cell misses. (Silently treating [] as "no constraint" would be
          // the one divergence a schema author cannot see.)
          if (vs.isEmpty) lit(true)
          else if (target == org.apache.spark.sql.types.StringType)
            !c.isin(vs.map(lit(_)): _*)
          else {
            def tryLit(v: String): Column = {
              val esc = v.replace("\\", "\\\\").replace("'", "''")
              expr(s"try_cast('$esc' AS ${target.sql})")
            }
            tryCast.isNotNull &&
              !vs.map(v => tryCast <=> tryLit(v)).reduce(_ || _)
          }
        val enumProbe = k.enumVals.map(vs =>
          when(cell && enumMiss(vs),
            errStruct(rowId, f.name, c, "constraint-error",
              s"value not in enum ${vs.mkString("[", ", ", "]")}")))
        val minProbe = k.minimum.map(m =>
          when(cell && tryCast.isNotNull && tryCast < lit(m).cast(target),
            errStruct(rowId, f.name, c, "constraint-error",
              s"value below minimum $m")))
        val maxProbe = k.maximum.map(m =>
          when(cell && tryCast.isNotNull && tryCast > lit(m).cast(target),
            errStruct(rowId, f.name, c, "constraint-error",
              s"value above maximum $m")))
        val minLenProbe = k.minLength.map(n =>
          when(cell && length(c) < n,
            errStruct(rowId, f.name, c, "constraint-error",
              s"value shorter than minLength $n")))
        val maxLenProbe = k.maxLength.map(n =>
          when(cell && length(c) > n,
            errStruct(rowId, f.name, c, "constraint-error",
              s"value longer than maxLength $n")))
        typeProbe.toSeq ++ requiredProbe.toSeq ++ patternProbe.toSeq ++
          enumProbe.toSeq ++ minProbe.toSeq ++ maxProbe.toSeq ++
          minLenProbe.toSeq ++ maxLenProbe.toSeq
      }
    }

    val (rowCount, cellErrors) = scanErrors(df0, probes, limitErrors,
      positional = rowIdCol.exists(c => !present.contains(c)))

    // unique-constraint pass: one aggregate over the declared unique fields
    val uniqueErrs: Seq[ValidationError] = fs.fields
      .filter(f => f.constraints.unique && present.contains(f.name))
      .flatMap { f =>
        df0.groupBy(col(f.name)).count().where(col("count") > 1)
          .limit(limitErrors)
          .collect().toSeq
          .map(r => ValidationError(None, f.name, Option(r.get(0)).map(_.toString),
            "unique-error", s"duplicate value appears ${r.getLong(1)} times"))
      }

    val errs = (cellErrors ++ uniqueErrs).take(limitErrors)
    ValidationReport(errs.isEmpty, rowCount, errs.size.toLong, errs)
  }

  /** The one-job pass: per partition, its row count and its first `limit`
    * error cells (with the row's in-partition index) in scan order. Of
    * those, the first `limit` cells in partition order are kept — what
    * `explode(errors).limit(n)` returns — and, if `positional`, numbered
    * 1-based from the partition row counts. */
  private def scanErrors(df: DataFrame, probes: Seq[Column], limit: Int,
      positional: Boolean): (Long, Seq[ValidationError]) = {
    val errCol =
      if (probes.isEmpty) lit(null)
      else filter(array(probes.map(p => p.as("e")): _*), _.isNotNull)
    val qe = df.select(errCol.as("errs")).queryExecution
    val parts = org.apache.spark.sql.execution.SQLExecution.withNewExecutionId(
      qe, Some("validate")) {
      qe.toRdd.mapPartitions { rows =>
        var n = 0L
        val found = Array.newBuilder[(Long, ValidationError)]
        var kept = 0
        while (rows.hasNext) {
          val r = rows.next()
          if (kept < limit && !r.isNullAt(0)) {
            val errs = r.getArray(0)
            var i = 0
            while (i < errs.numElements() && kept < limit) {
              val e = errs.getStruct(i, 5)
              def str(j: Int) = if (e.isNullAt(j)) null else e.getUTF8String(j).toString
              found += n -> ValidationError(
                if (e.isNullAt(0)) None else Some(e.getLong(0)),
                str(1), Option(str(2)), str(3), str(4))
              kept += 1
              i += 1
            }
          }
          n += 1
        }
        Iterator.single((n, found.result()))
      }.collect()
    }
    val offsets = RowNumbers.partitionOffsets(parts.map(_._1), 1L)
    val errors = parts.iterator.zip(offsets.iterator).flatMap { case ((_, errs), first) =>
      errs.iterator.map { case (i, e) =>
        if (positional) e.copy(rowNumber = Some(first + i)) else e
      }
    }.take(limit).toVector
    (parts.map(_._1).sum, errors)
  }

  /** Header override (P9): replace declared field names with the actual
    * file header POSITIONALLY before validating — the reference zips the
    * descriptor with the observed header so validation reports use real
    * column names (validation.py:42-52). Extra header columns get fresh
    * string fields; extra declared fields are kept. */
  def withHeaderOverride(schema: FrictionlessSchema, actualColumns: Seq[String]): FrictionlessSchema = {
    val declared = schema.fields
    val renamed = declared.zip(actualColumns).map { case (f, n) => f.copy(name = n) }
    val extraHeader = actualColumns.drop(declared.size)
      .map(n => graft.schema.FrictionlessField(n, "string"))
    val extraDeclared = declared.drop(actualColumns.size)
    FrictionlessSchema(renamed ++ extraHeader ++ extraDeclared)
  }

  /** Precondition check: upsert needs ≥1 unique key and keys must exist in
    * the data (V2; reference: pipeline_ckan_to_bigquery.py:366-370,
    * warehouse.py:215-220). */
  def requireUniqueKeys(schema: FrictionlessSchema, dataColumns: Seq[String]): Seq[String] = {
    val keys = schema.uniqueKeys
    if (keys.isEmpty)
      throw new IllegalArgumentException(
        "Upsert requires at least one field with constraints.unique = true.")
    val sanitizedData = dataColumns.map(Sanitizer.sanitize)
    val missing = keys.filterNot(sanitizedData.contains)
    if (missing.nonEmpty)
      throw new IllegalArgumentException(
        s"Unique key column(s) not found in data: ${missing.mkString(", ")}")
    keys
  }
}
