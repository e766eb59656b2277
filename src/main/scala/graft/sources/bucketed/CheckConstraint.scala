package graft.sources.bucketed

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.analysis.SimpleAnalyzer
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, BoundReference, Expression}
import org.apache.spark.sql.catalyst.parser.CatalystSqlParser
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Project}
import org.apache.spark.sql.types.{BooleanType, StructType}

/** Write-path CHECK constraints for the bucket store — the Delta/
  * Iceberg `ALTER TABLE ADD CONSTRAINT CHECK (...)` contract: a
  * boolean SQL expression every row must satisfy AT WRITE TIME, so a
  * 100 TB table's quality invariants hold by construction instead of
  * by a nightly audit query over the damage.
  *
  * SQL CHECK semantics: a row fails only when the predicate evaluates
  * to FALSE — NULL passes (the constraint constrains what it can see;
  * `IS NOT NULL` is its own explicit check).
  *
  * Compilation is self-contained (no SparkSession): the expression
  * string parses through [[CatalystSqlParser]], attributes bind by
  * name against the table schema, function calls resolve against the
  * builtin registry, and evaluation is the bound expression over a
  * Catalyst row: the record itself in a writer task
  * ([[BucketedDataWriter]]), the converted row in [[validate]]. The
  * STRING travels to executors and binds once per writer task —
  * expressions never serialize, and a task needs nothing from the
  * driver but the schema it already has.
  */
object CheckConstraint {

  /** A GENUINE constraint violation — distinct from the
    * IllegalArgumentException family so callers that stream rows from
    * storage can tell "a row failed the predicate" apart from "the
    * stream/type converters failed" (the latter must fall back to the
    * folded validation, not masquerade as a violation). Subclasses
    * IllegalArgumentException so every existing catch/intercept keeps
    * working.
    */
  final class Violation(msg: String) extends IllegalArgumentException(msg)

  /** Parse + analyze + bind `exprStr` against `schema`; loud on
    * unknown columns, unknown functions, or a non-boolean result
    * type. Analysis runs through [[SimpleAnalyzer]] over a dummy
    * single-projection plan — the full resolution stack (attribute
    * lookup, builtin function registry, implicit type coercion: a
    * DOUBLE column compared to an INT literal needs the analyzer's
    * cast, not a hand-rolled one) without needing a SparkSession.
    */
  def bind(schema: StructType, exprStr: String): Expression = {
    val parsed =
      try CatalystSqlParser.parseExpression(exprStr)
      catch { case e: Exception =>
        throw new IllegalArgumentException(
          s"check constraint does not parse: '$exprStr' (${e.getMessage})")
      }
    val attrs = schema.fields.toIndexedSeq.map(f =>
      AttributeReference(f.name, f.dataType, f.nullable)())
    // SimpleAnalyzer resolves attributes CASE-SENSITIVELY, but the DDL
    // surface this imitates (Spark SQL, Delta CHECK) is case-insensitive
    // by default — 'O_TOTALPRICE > 0' must bind against o_totalprice.
    // Pre-resolve single-part names against the schema with a
    // case-insensitive match; a name matching two fields that differ
    // only by case stays unresolved and fails loud below.
    val byFolded = schema.fieldNames.toIndexedSeq
      .groupBy(_.toLowerCase(java.util.Locale.ROOT))
    val ciParsed = parsed.transformUp {
      case u: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
          if u.nameParts.length == 1 =>
        byFolded.get(u.nameParts.head.toLowerCase(java.util.Locale.ROOT)) match {
          case Some(Seq(exact)) =>
            org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute(Seq(exact))
          case _ => u
        }
    }
    val analyzed =
      try {
        val plan = Project(Seq(Alias(ciParsed, "__check")()), LocalRelation(attrs))
        val resolved = SimpleAnalyzer.execute(plan)
        SimpleAnalyzer.checkAnalysis(resolved)
        resolved.asInstanceOf[Project].projectList.head.asInstanceOf[Alias].child
      } catch {
        case e: IllegalArgumentException => throw e
        case e: Exception =>
          throw new IllegalArgumentException(
            s"check constraint does not resolve against " +
              s"[${schema.fieldNames.mkString(", ")}]: '$exprStr' (${e.getMessage})")
      }
    require(analyzed.dataType == BooleanType,
      s"check constraint must be boolean, got ${analyzed.dataType.catalogString}: '$exprStr'")
    val indexOf = attrs.map(_.exprId).zipWithIndex.toMap
    analyzed.transformUp {
      case a: AttributeReference =>
        BoundReference(indexOf(a.exprId), a.dataType, a.nullable)
    }
  }

  /** Compile to a Row predicate: true ⇔ the row PASSES. */
  def compile(schema: StructType, exprStr: String): Row => Boolean = {
    val bound = bind(schema, exprStr)
    val conv = CatalystTypeConverters.createToCatalystConverter(schema)
    row => bound.eval(conv(row).asInstanceOf[InternalRow]) != false
  }

  /** Validate a batch; loud failure names the table, constraint, and
    * the first offending row (truncated — a 100-column row should not
    * flood the error budget).
    */
  def validate(table: String, exprStr: String, schema: StructType,
      rows: IterableOnce[Row]): Unit = {
    val pass = compile(schema, exprStr)
    rows.iterator.foreach { r =>
      if (!pass(r))
        throw new Violation(
          s"CHECK constraint violation on '$table': ($exprStr) is false for row " +
            r.toString.take(200))
    }
  }
}
