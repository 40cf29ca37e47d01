package graft

import graft.functions.DecimalFromBytes
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.graftbridge.GraftBridge
import org.apache.spark.sql.types.StringType

/** SparkSessionExtensions entry point — the library's Catalyst seam.
  *
  * Usage: `.config("spark.sql.extensions", "graft.GraftExtensions")`.
  * Registers the SQL surface for the library's custom expressions, e.g.
  *
  *   SELECT decimal_from_bytes(unbase64(v), 18, 2) FROM ...
  *
  * The reference exposes its extension points as CDI-injected strategy
  * interfaces (SINK/IcebergUtil.java:76-89); the Spark-native analogue is
  * exactly this class: native expressions injected into the session's
  * function registry so they participate in whole-stage codegen.
  *
  * It also installs the `graft.<t>` SQL surface over
  * `spark.graft.warehouse`: reads and table DDL run through
  * [[graft.catalog.GraftCatalog]] exactly as for a registered catalog,
  * with no registration; DML, views, metadata statements and `CALL`
  * through the rules in `graft.plans`.
  *
  * Reads do not need it: `spark.read.format("graft-table")` plans the
  * same DSv2 scan, manifest-answered aggregates included, in any session.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    // SQL identity for managed tables against spark.graft.warehouse:
    // a `graft.<table>` read IS the DSv2 table — the rule loads it
    // through [[graft.catalog.GraftCatalog]] (suffixes $v<N>, $branch_<b>,
    // $files, … included), so no catalog registration is needed; it also
    // resolves $changes, persisted views and SQL DML — see
    // [[graft.plans.ResolveGraftTables]].
    ext.injectResolutionRule(session => new graft.plans.ResolveGraftTables(session))
    // SQL DDL: CREATE/CTAS/DROP TABLE graft.<t>, the column and property
    // ALTERs and TRUNCATE TABLE are GraftCatalog's own DDL — the parser
    // only resolves the identifier onto the catalog (built-in catalog
    // resolution would reject the statements before a resolution rule
    // could claim them); views, SHOW/DESCRIBE, CALL and the verbs Spark's
    // grammar lacks stay eager commands — see
    // [[graft.plans.GraftSqlParser]] / [[graft.plans.ResolveGraftDdl]].
    ext.injectParser((session, delegate) =>
      new graft.plans.GraftSqlParser(session, delegate))
    ext.injectFunction((
      FunctionIdentifier("decimal_from_bytes"),
      DecimalFromBytes.info,
      (args: Seq[Expression]) => {
        require(args.length == 3,
          "decimal_from_bytes(binary, precision, scale) takes 3 arguments")
        val p = args(1) match {
          case Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(s"precision must be an int literal, got $other")
        }
        val s = args(2) match {
          case Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(s"scale must be an int literal, got $other")
        }
        DecimalFromBytes(args.head, p, s)
      }))

    ext.injectFunction((
      FunctionIdentifier("graft_normalize"),
      graft.functions.TextNormalize.info,
      (args: Seq[Expression]) => {
        require(args.length == 2,
          "graft_normalize(string, form) takes 2 arguments (form: 'NFC'|'NFD'|'NFKC'|'NFKD'|'STRIP_ACCENTS')")
        val form = args(1) match {
          case Literal(v, StringType) if v != null => v.toString
          case other => throw new IllegalArgumentException(
            s"form must be a non-null string literal, got $other")
        }
        graft.functions.TextNormalize(args.head, form)
      }))

    ext.injectFunction((
      FunctionIdentifier("edit_distance_within"),
      new ExpressionInfo(getClass.getName, "edit_distance_within"),
      (args: Seq[Expression]) => {
        require(args.length == 3,
          "edit_distance_within(a, b, threshold) takes 3 arguments")
        val k = args(2) match {
          case Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"threshold must be an int literal, got $other")
        }
        graft.functions.EditDistanceWithin(args(0), args(1), k)
      }))

    // Composite column functions exposed to SQL: built from the same
    // library expressions the DataFrame API uses, so SQL and Scala callers
    // share one implementation (and its codegen behavior).
    injectColumnFn(ext, "graft_cosine", 2)(args =>
      graft.similarity.Knn.cosine(args(0), args(1)))
    injectColumnFn(ext, "graft_hamming", 2)(args =>
      graft.dedup.SimHash.hamming(args(0), args(1)))
    injectColumnFn(ext, "graft_quality", 1)(args =>
      graft.text.TextFunctions.qualityScore(args(0)))
    injectColumnFn(ext, "graft_lang_id", 1)(args =>
      graft.text.TextFunctions.langId(args(0)))
    injectColumnFn(ext, "graft_tokens", 1)(args =>
      graft.text.TextFunctions.tokens(args(0)))
    injectColumnFn(ext, "graft_token_count", 1)(args =>
      graft.text.TextFunctions.bpeishTokenCount(args(0)))
    injectColumnFn(ext, "graft_fingerprint", 1)(args =>
      graft.text.TextFunctions.fingerprint(args(0)))
    // deterministic sampling bucket in [0, 10000): WHERE graft_bucket(id) < 500
    injectColumnFn(ext, "graft_bucket", 1)(args =>
      graft.sampling.Sampling.bucket(args(0)))
    injectColumnFn(ext, "graft_dup_bigram_frac", 1)(args =>
      graft.text.TextFunctions.dupNgramFraction(
        graft.text.TextFunctions.tokens(args(0)), 2))
  }

  private def injectColumnFn(ext: SparkSessionExtensions, name: String, arity: Int)(
      build: Seq[org.apache.spark.sql.Column] => org.apache.spark.sql.Column): Unit =
    ext.injectFunction((
      FunctionIdentifier(name),
      new ExpressionInfo(getClass.getName, name),
      (args: Seq[Expression]) => {
        require(args.length == arity, s"$name takes $arity argument(s)")
        GraftBridge.convertedExpression(build(args.map(GraftBridge.column)))
      }))
}
