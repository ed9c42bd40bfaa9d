package graft.plans

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference}
import org.apache.spark.sql.catalyst.parser.{ParseException, ParserInterface}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.types.{BooleanType, DataType, LongType, StringType, StructType}
import graft.sources.VersionedTable

/** Maintenance SQL for gvt tables — the statements Delta adds beyond
  * ANSI (Delta ships its own DeltaSqlParser for exactly these; this is
  * the same delegating-parser shape, injected by
  * [[graft.GraftExtensions]]):
  *
  *   OPTIMIZE <t> [ZORDER BY (c1, c2[, c3[, c4]])]
  *   VACUUM <t> [RETAIN <n> HOURS]
  *   DESCRIBE HISTORY <t>
  *
  * `<t>` is a registered gvt view/table name, or the path form
  * `` gvt.`/table/root` `` (Delta's ``delta.`path` `` idiom). Anything
  * else delegates verbatim to Spark's parser — the wrapper recognizes
  * only statements Spark itself cannot parse, so no valid Spark SQL
  * changes meaning.
  *
  * OPTIMIZE maps to the cheapest correct maintenance: a pure append
  * chain folds via [[VersionedTable.compactChain]] (O(appended), base
  * files untouched); deletion vectors, clone crossings, or ZORDER BY
  * take the full [[VersionedTable.compact]] rewrite. VACUUM maps to
  * [[VersionedTable.vacuum]] with the Delta retention contract
  * (`RETAIN n HOURS` → the retention window; snapshots newer than it
  * are never dropped). DESCRIBE HISTORY returns
  * [[VersionedTable.history]] newest-first. */
class GvtSqlParser(session: SparkSession, delegate: ParserInterface)
  extends ParserInterface {

  import GvtSqlParser._

  override def parsePlan(sqlText: String): LogicalPlan = {
    val t = sqlText.trim.stripSuffix(";").trim
    t match {
      case OptimizeRe(target, full, where, zorder) =>
        val zCols = Option(zorder).toSeq
          .flatMap(_.split(',')).map(_.trim.stripPrefix("`").stripSuffix("`"))
          .filter(_.nonEmpty)
        GvtOptimizeCommand(target.trim, zCols,
          where = Option(where).map(_.trim).filter(_.nonEmpty),
          full = full != null)
      case VacuumRe(target, hours, dry) =>
        GvtVacuumCommand(target.trim,
          Option(hours).map(h => h.trim.toLong * 3600L * 1000L),
          dryRun = dry != null)
      case ReorgRe(target) => GvtReorgCommand(target.trim)
      case ConvertRe(path) => GvtConvertCommand(path.trim)
      // SHOW PARTITIONS is valid Spark SQL for catalog tables — claim
      // only gvt targets (the DESCRIBE HISTORY guard)
      case ShowPartsRe(target) if isGvtTarget(session, target.trim) =>
        GvtShowPartitionsCommand(target.trim)
      // `DESC history status` is VALID Spark SQL (describe column
      // 'status' of a table named 'history') — only claim the statement
      // when the target actually resolves to a gvt relation, else
      // delegate so no valid Spark SQL changes meaning
      case HistoryRe(target) if isGvtTarget(session, target.trim) =>
        GvtHistoryCommand(target.trim)
      // ALTER TABLE may grow constraint syntax in Spark itself — claim
      // only gvt targets (same guard as DESCRIBE HISTORY)
      case AddConstraintRe(target, name, expr)
          if isGvtTarget(session, target.trim) =>
        GvtAddConstraintCommand(target.trim, name.trim, expr.trim)
      case DropConstraintRe(target, name)
          if isGvtTarget(session, target.trim) =>
        GvtDropConstraintCommand(target.trim, name.trim)
      case RestoreRe(target, version) =>
        GvtRestoreCommand(target.trim, version.trim.toLong)
      case RestoreTsRe(target, ts) =>
        GvtRestoreTimestampCommand(target.trim, ts.trim)
      // TRUNCATE TABLE is valid Spark SQL on catalog tables — claim
      // only gvt targets
      case TruncateRe(target) if isGvtTarget(session, target.trim) =>
        GvtTruncateCommand(target.trim)
      // TBLPROPERTIES statements are valid Spark SQL on catalog tables —
      // claim only gvt targets so catalog DDL keeps its meaning
      case SetPropsRe(target, pairs) if isGvtTarget(session, target.trim) =>
        GvtSetPropertiesCommand(target.trim, parsePropPairs(pairs))
      case UnsetPropsRe(target, keys) if isGvtTarget(session, target.trim) =>
        GvtUnsetPropertiesCommand(target.trim, parsePropKeys(keys))
      case ShowPropsRe(target) if isGvtTarget(session, target.trim) =>
        GvtShowPropertiesCommand(target.trim)
      case ClusterByNoneRe(target) if isGvtTarget(session, target.trim) =>
        GvtUnsetPropertiesCommand(target.trim, Seq("gvt.clusterBy"))
      case ClusterByRe(target, cols) if isGvtTarget(session, target.trim) =>
        GvtSetPropertiesCommand(target.trim, Map("gvt.clusterBy" ->
          parsePropKeys(cols.replace("`", "")).mkString(",")))
      case AddColumnsRe(target, colList) if isGvtTarget(session, target.trim) =>
        GvtAddColumnsCommand(target.trim,
          parseColumnList(colList, delegate.parseDataType))
      case DropColsRe(target, cols) if isGvtTarget(session, target.trim) =>
        GvtDropColumnsCommand(target.trim, parsePropKeys(
          cols.replace("`", "")))
      case RenameColRe(target, from, to) if isGvtTarget(session, target.trim) =>
        GvtRenameColumnCommand(target.trim, from.trim, to.trim)
      case SetDefaultRe(target, colName, expr)
          if isGvtTarget(session, target.trim) =>
        GvtSetDefaultCommand(target.trim, colName.trim, expr.trim)
      case DropDefaultRe(target, colName)
          if isGvtTarget(session, target.trim) =>
        GvtDropDefaultCommand(target.trim, colName.trim)
      case AlterTypeRe(target, colName, tpe)
          if isGvtTarget(session, target.trim) =>
        GvtAlterTypeCommand(target.trim, colName.trim,
          delegate.parseDataType(tpe.trim))
      // `DESC DETAIL t` could be valid Spark SQL (describe column 't' of
      // a table named 'detail') — same guard as DESCRIBE HISTORY
      case DescDetailRe(target) if isGvtTarget(session, target.trim) =>
        GvtDescribeDetailCommand(target.trim)
      // ANALYZE TABLE is valid Spark SQL on catalog tables — claim only
      // gvt targets (both forms are metadata-only here, so NOSCAN is
      // accepted and identical)
      case AnalyzeRe(target, _) if isGvtTarget(session, target.trim) =>
        GvtAnalyzeCommand(target.trim)
      // CREATE TABLE … [SHALLOW|DEEP] CLONE is not valid Spark SQL —
      // claiming it shadows nothing
      case CloneRe(dst, kind, src, version) =>
        GvtCloneCommand(dst.trim, src.trim,
          shallow = Option(kind).exists(_.trim.equalsIgnoreCase("SHALLOW")),
          version = Option(version).map(_.trim.toLong))
      // `CREATE TABLE t (cols) USING <v1 provider>` with an explicit
      // schema is NOT valid Spark SQL for a plain RelationProvider
      // (user-specified schemas are rejected at creation) — claiming
      // the gvt form shadows nothing. CTAS and the schema-less
      // register-existing-path form stay native (they already work).
      case CreateTableRe(orReplace, ine, target, colList, tail) =>
        require(orReplace == null || ine == null,
          "CREATE OR REPLACE TABLE and IF NOT EXISTS are mutually exclusive")
        val (options, partitionBy, props) = parseCreateClauses(tail)
        GvtCreateTableCommand(target.trim, ifNotExists = ine != null,
          parseColumnList(colList, delegate.parseDataType),
          options, partitionBy, props, orReplace = orReplace != null)
      // SHOW CREATE TABLE is valid Spark SQL on catalog tables — claim
      // only gvt targets (the DESCRIBE HISTORY guard)
      case ShowCreateRe(target) if isGvtTarget(session, target.trim) =>
        GvtShowCreateTableCommand(target.trim)
      // CREATE/REFRESH MATERIALIZED VIEW is not valid Spark SQL —
      // claiming it shadows nothing (Databricks ships it for Delta)
      case CreateMvRe(target, query) =>
        GvtCreateMvCommand(target.trim, query.trim)
      case RefreshMvRe(target) =>
        GvtRefreshMvCommand(target.trim)
      case DropMvRe(target) =>
        GvtDropMvCommand(target.trim)
      case ShowMvRe(target) =>
        GvtShowMvCommand(Option(target).map(_.trim))
      case CreateBloomRe(target, cols) =>
        GvtCreateBloomIndexCommand(target.trim, parsePropKeys(
          cols.replace("`", "")))
      case DropBloomRe(target) =>
        GvtDropBloomIndexCommand(target.trim)
      case CopyIntoRe(target, from, fmt, pat) =>
        GvtCopyIntoCommand(target.trim, from, fmt.trim,
          Option(pat).filter(_.nonEmpty))
      // in-query VERSION AS OF / TIMESTAMP AS OF over gvt targets must
      // substitute at parse time — Spark's analyzer rejects time travel
      // on temp views before injected resolution rules run; MERGE WITH
      // SCHEMA EVOLUTION likewise widens its gvt target at parse time,
      // before the analyzer expands star actions against it
      case _ => GvtMergeEvolution.resolve(session,
        GvtTimeTravel.resolve(session, delegate.parsePlan(sqlText)))
    }
  }

  override def parseExpression(sqlText: String) = delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseQuery(sqlText: String): LogicalPlan =
    delegate.parseQuery(sqlText)
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String): DataType =
    delegate.parseDataType(sqlText)
}

object GvtSqlParser {
  // target = gvt.`path` | [`]ident[`] ; statements Spark can't parse,
  // so matching them first never shadows valid Spark SQL
  private val Target = """(gvt\s*\.\s*`[^`]+`|`[^`]+`|[\w.]+)"""
  private val OptimizeRe =
    ("""(?is)^OPTIMIZE\s+""" + Target +
      """(?:\s+(FULL))?""" +
      """(?:\s+WHERE\s+(.+?))?""" +
      """(?:\s+ZORDER\s+BY\s*\(?\s*([`\w,\s]+?)\s*\)?)?\s*$""").r
  private val VacuumRe =
    ("""(?is)^VACUUM\s+""" + Target +
      """(?:\s+RETAIN\s+(\d+)\s+HOURS?)?(?:\s+(DRY\s+RUN))?\s*$""").r
  private val ReorgRe =
    ("""(?is)^REORG\s+TABLE\s+""" + Target +
      """\s+APPLY\s*\(\s*PURGE\s*\)\s*$""").r
  private val ConvertRe =
    """(?is)^CONVERT\s+TO\s+GVT\s+parquet\s*\.\s*`([^`]+)`\s*$""".r
  private val ShowPartsRe =
    ("""(?is)^SHOW\s+PARTITIONS\s+""" + Target + """\s*$""").r
  private val HistoryRe =
    ("""(?is)^DESC(?:RIBE)?\s+HISTORY\s+""" + Target + """\s*$""").r
  private val RestoreRe =
    ("""(?is)^RESTORE\s+(?:TABLE\s+)?""" + Target +
      """\s+(?:TO\s+)?VERSION\s+AS\s+OF\s+(\d+)\s*$""").r
  private val RestoreTsRe =
    ("""(?is)^RESTORE\s+(?:TABLE\s+)?""" + Target +
      """\s+(?:TO\s+)?TIMESTAMP\s+AS\s+OF\s+'([^']+)'\s*$""").r
  private val TruncateRe =
    ("""(?is)^TRUNCATE\s+TABLE\s+""" + Target + """\s*$""").r
  private val AddConstraintRe =
    ("""(?is)^ALTER\s+TABLE\s+""" + Target +
      """\s+ADD\s+CONSTRAINT\s+(\w+)\s+CHECK\s*\((.+)\)\s*$""").r
  private val DropConstraintRe =
    ("""(?is)^ALTER\s+TABLE\s+""" + Target +
      """\s+DROP\s+CONSTRAINT\s+(\w+)\s*$""").r
  private val SetPropsRe =
    ("""(?is)^ALTER\s+TABLE\s+""" + Target +
      """\s+SET\s+TBLPROPERTIES\s*\((.+)\)\s*$""").r
  private val UnsetPropsRe =
    ("""(?is)^ALTER\s+TABLE\s+""" + Target +
      """\s+UNSET\s+TBLPROPERTIES\s*(?:IF\s+EXISTS\s+)?\((.+)\)\s*$""").r
  private val ShowPropsRe =
    ("""(?is)^SHOW\s+TBLPROPERTIES\s+""" + Target + """\s*$""").r
  // `ALTER TABLE t CLUSTER BY (c1, c2)` / `CLUSTER BY NONE` — Delta
  // Liquid Clustering's key-registration surface; plain OPTIMIZE then
  // clusters incrementally (VersionedTable.clusterIncremental)
  private val ClusterByRe =
    ("""(?is)^ALTER\s+TABLE\s+""" + Target +
      """\s+CLUSTER\s+BY\s*\(\s*([`\w.\-]+(?:\s*,\s*[`\w.\-]+)*)\s*\)\s*$""").r
  private val ClusterByNoneRe =
    ("""(?is)^ALTER\s+TABLE\s+""" + Target +
      """\s+CLUSTER\s+BY\s+NONE\s*$""").r
  private val AddColumnsRe =
    ("""(?is)^ALTER\s+TABLE\s+""" + Target +
      """\s+ADD\s+COLUMNS?\s*\((.+)\)\s*$""").r
  private val DescDetailRe =
    ("""(?is)^DESC(?:RIBE)?\s+DETAIL\s+""" + Target + """\s*$""").r
  private val AnalyzeRe =
    ("""(?is)^ANALYZE\s+TABLE\s+""" + Target +
      """\s+COMPUTE\s+STATISTICS\s*(NOSCAN)?\s*$""").r
  // DROP COLUMN c / DROP COLUMNS (a, b) — never matches DROP CONSTRAINT
  // (the COLUMN keyword is required)
  private val DropColsRe =
    ("""(?is)^ALTER\s+TABLE\s+""" + Target +
      """\s+DROP\s+COLUMNS?\s*\(?\s*([`\w.\-]+(?:\s*,\s*[`\w.\-]+)*)\s*\)?\s*$""").r
  private val RenameColRe =
    ("""(?is)^ALTER\s+TABLE\s+""" + Target +
      """\s+RENAME\s+COLUMN\s+`?([\w.\-]+)`?\s+TO\s+`?([\w.\-]+)`?\s*$""").r
  private val SetDefaultRe =
    ("""(?is)^ALTER\s+TABLE\s+""" + Target +
      """\s+ALTER\s+COLUMN\s+`?([\w.\-]+)`?\s+SET\s+DEFAULT\s+(.+?)\s*$""").r
  private val DropDefaultRe =
    ("""(?is)^ALTER\s+TABLE\s+""" + Target +
      """\s+ALTER\s+COLUMN\s+`?([\w.\-]+)`?\s+DROP\s+DEFAULT\s*$""").r
  private val AlterTypeRe =
    ("""(?is)^ALTER\s+TABLE\s+""" + Target +
      """\s+ALTER\s+COLUMN\s+`?([\w.\-]+)`?\s+TYPE\s+([\w()\s,]+?)\s*$""").r
  private val CloneRe =
    ("""(?is)^CREATE\s+TABLE\s+""" + Target +
      """\s+(?:(SHALLOW|DEEP)\s+)?CLONE\s+""" + Target +
      """(?:\s+VERSION\s+AS\s+OF\s+(\d+))?\s*$""").r
  // explicit column list + USING gvt; the tail (OPTIONS / PARTITIONED
  // BY / TBLPROPERTIES in any order) parses separately. `(.+)` is
  // greedy, so the LAST `) USING gvt` closes the column list — types
  // with parens (decimal(10,2)) stay inside it.
  private val CreateTableRe =
    ("""(?is)^CREATE\s+(?:(OR\s+REPLACE)\s+)?TABLE\s+""" +
      """(?:(IF\s+NOT\s+EXISTS)\s+)?""" + Target +
      """\s*\((.+)\)\s*USING\s+gvt\b(.*)$""").r

  /** The CREATE TABLE tail: `OPTIONS (…)`, `PARTITIONED BY (…)`,
    * `TBLPROPERTIES (…)` in any order; anything else fails loudly
    * (an unrecognized clause must never be silently dropped). */
  private[plans] def parseCreateClauses(tail0: String)
      : (Map[String, String], Seq[String], Map[String, String]) = {
    var options = Map.empty[String, String]
    var partitionBy = Seq.empty[String]
    var props = Map.empty[String, String]
    var tail = tail0.trim
    val Clause = """(?is)^(OPTIONS|PARTITIONED\s+BY|TBLPROPERTIES)\s*\(""".r
    while (tail.nonEmpty) {
      val m = Clause.findFirstMatchIn(tail).getOrElse(
        throw new IllegalArgumentException(
          s"CREATE TABLE … USING gvt: cannot parse clause at '${
            tail.take(60)}' (supported: OPTIONS, PARTITIONED BY, " +
            "TBLPROPERTIES)"))
      // balanced-paren scan from the clause's opening '('
      var depth = 1
      var i = m.end
      while (depth > 0 && i < tail.length) {
        tail.charAt(i) match {
          case '(' => depth += 1
          case ')' => depth -= 1
          case _ => ()
        }
        i += 1
      }
      require(depth == 0, s"CREATE TABLE: unbalanced parens in '$tail'")
      val body = tail.substring(m.end, i - 1)
      m.group(1).toUpperCase.replaceAll("\\s+", " ") match {
        case "OPTIONS" => options ++= parseOptionPairs(body)
        case "PARTITIONED BY" => partitionBy ++= parsePropKeys(
          body.replace("`", ""))
        case "TBLPROPERTIES" => props ++= parsePropPairs(body)
      }
      tail = tail.substring(i).trim
    }
    (options, partitionBy, props)
  }

  private val ShowCreateRe =
    ("""(?is)^SHOW\s+CREATE\s+TABLE\s+""" + Target + """\s*$""").r

  // not valid Spark SQL — claiming them shadows nothing
  private val CreateMvRe =
    ("""(?is)^CREATE\s+MATERIALIZED\s+VIEW\s+""" + Target +
      """\s+AS\s+(.+)$""").r
  private val RefreshMvRe =
    ("""(?is)^REFRESH\s+MATERIALIZED\s+VIEW\s+""" + Target + """\s*$""").r
  private val DropMvRe =
    ("""(?is)^DROP\s+MATERIALIZED\s+VIEW\s+""" + Target + """\s*$""").r
  private val ShowMvRe =
    ("""(?is)^SHOW\s+MATERIALIZED\s+VIEWS(?:\s+ON\s+""" + Target +
      """)?\s*$""").r
  private val CreateBloomRe =
    ("""(?is)^CREATE\s+BLOOMFILTER\s+INDEX\s+ON\s+(?:TABLE\s+)?""" + Target +
      """\s+FOR\s+COLUMNS\s*\(([^)]+)\)\s*$""").r
  private val DropBloomRe =
    ("""(?is)^DROP\s+BLOOMFILTER\s+INDEX\s+ON\s+(?:TABLE\s+)?""" + Target +
      """\s*$""").r

  private val CopyIntoRe =
    ("""(?is)^COPY\s+INTO\s+""" + Target +
      """\s+FROM\s+'([^']+)'\s+FILEFORMAT\s*=\s*(\w+)""" +
      """(?:\s+PATTERN\s*=\s*'([^']+)')?\s*$""").r

  /** `'k' = 'v', k2 = 'v2', k3 = 3` → pairs. Values: single-quoted
    * strings or bare number/word tokens; keys: single-quoted or
    * dotted identifiers. Commas inside quoted values are not
    * supported (fail loudly, never mis-split). */
  private[plans] def parsePropPairs(s: String): Map[String, String] = {
    val Pair =
      """(?s)^\s*(?:'([^']*)'|([\w.\-]+))\s*=\s*(?:'([^']*)'|([^\s,']+))\s*$""".r
    s.split(',').map {
      case Pair(qk, bk, qv, bv) =>
        Option(qk).getOrElse(bk) -> Option(qv).getOrElse(bv)
      case other => throw new IllegalArgumentException(
        s"cannot parse TBLPROPERTIES pair '$other' (quoted commas are " +
          "not supported)")
    }.toMap
  }

  /** OPTIONS pairs: Spark's syntax admits `key 'value'` (space form,
    * the documented idiom for USING … OPTIONS) as well as
    * `key = 'value'` — accept both; [[parsePropPairs]] stays strict
    * for TBLPROPERTIES. */
  private[plans] def parseOptionPairs(s: String): Map[String, String] = {
    val Pair =
      """(?s)^\s*(?:'([^']*)'|([\w.\-]+))\s*=?\s*(?:'([^']*)'|([^\s,']+))\s*$""".r
    s.split(',').map {
      case Pair(qk, bk, qv, bv) =>
        Option(qk).getOrElse(bk) -> Option(qv).getOrElse(bv)
      case other => throw new IllegalArgumentException(
        s"cannot parse OPTIONS pair '$other' (quoted commas are not " +
          "supported)")
    }.toMap
  }

  private[plans] def parsePropKeys(s: String): Seq[String] =
    s.split(',').map(_.trim.stripPrefix("'").stripSuffix("'"))
      .filter(_.nonEmpty).toSeq

  /** One parsed ADD COLUMNS entry: name, type, and an optional
    * identity spec (start, step) from a `GENERATED … AS IDENTITY`
    * suffix or generated-column expression from `GENERATED ALWAYS AS
    * (expr)`. */
  private[plans] case class ColSpec(name: String, dataType: DataType,
                                    identity: Option[(Long, Long)],
                                    generated: Option[String] = None,
                                    default: Option[String] = None,
                                    notNull: Boolean = false)

  private val GeneratedRe =
    ("""(?is)^(.*?)\s+GENERATED\s+ALWAYS\s+AS\s+\((.+)\)\s*$""").r
  private val DefaultRe =
    ("""(?is)^(.*?)\s+DEFAULT\s+(.+?)\s*$""").r
  private val IdentityRe =
    ("""(?is)^(.*?)\s+GENERATED\s+(?:ALWAYS|BY\s+DEFAULT)\s+AS\s+IDENTITY""" +
      """(?:\s*\(\s*(?:START\s+WITH\s+(-?\d+)\s*)?(?:INCREMENT\s+BY\s+(-?\d+)\s*)?\))?\s*$""").r

  /** `c1 BIGINT, c2 DECIMAL(10,2), c3 ARRAY<STRING>, id BIGINT
    * GENERATED ALWAYS AS IDENTITY (START WITH 1 INCREMENT BY 1)` →
    * specs: split on commas OUTSIDE (){}<> nesting, first token is the
    * (possibly backquoted) name, the rest parses via the session's own
    * type parser after peeling any identity suffix (Delta's syntax). */
  private[plans] def parseColumnList(
      s: String, parseType: String => DataType): Seq[ColSpec] = {
    val items = scala.collection.mutable.ListBuffer.empty[String]
    val cur = new StringBuilder
    var depth = 0
    s.foreach {
      case c @ ('(' | '<' | '{') => depth += 1; cur += c
      case c @ (')' | '>' | '}') => depth -= 1; cur += c
      case ',' if depth == 0 => items += cur.result(); cur.clear()
      case c => cur += c
    }
    items += cur.result()
    items.toSeq.map(_.trim).filter(_.nonEmpty).map { item =>
      val (name, rest) =
        if (item.startsWith("`")) {
          val end = item.indexOf('`', 1)
          require(end > 0, s"unterminated backquote in column spec '$item'")
          (item.substring(1, end), item.substring(end + 1))
        } else item.span(c => !c.isWhitespace)
      require(rest.trim.nonEmpty, s"column spec '$item' is missing a type")
      // `NOT NULL` may sit anywhere after the type (before or after a
      // DEFAULT), but only counts at NESTING DEPTH ZERO outside quotes:
      // a `NOT NULL` inside a DEFAULT or generated expression (e.g.
      // `b BOOLEAN DEFAULT (x IS NOT NULL)`) is expression text, not a
      // constraint marker — a blind removal silently corrupted it
      val (notNull, rest2) = stripTopLevelNotNull(rest)
      rest2 match {
        case IdentityRe(tpe, start, step) =>
          ColSpec(name, parseType(tpe.trim),
            Some((Option(start).map(_.toLong).getOrElse(1L),
              Option(step).map(_.toLong).getOrElse(1L))), notNull = notNull)
        case GeneratedRe(tpe, expr) =>
          ColSpec(name, parseType(tpe.trim), None, Some(expr.trim),
            notNull = notNull)
        case DefaultRe(tpe, expr) =>
          ColSpec(name, parseType(tpe.trim), None, None, Some(expr.trim),
            notNull = notNull)
        case tpe => ColSpec(name, parseType(tpe), None, notNull = notNull)
      }
    }
  }

  /** Remove the first `NOT NULL` appearing at paren/angle/brace depth 0
    * outside quotes from a column-spec suffix → (found, remainder).
    * Depth tracking follows [[parseColumnList]]'s splitter convention
    * (`<` opens a generic type), so an UNPARENTHESIZED comparison in a
    * DEFAULT expression should be written in parentheses — the
    * documented style for compound defaults anyway. */
  private[plans] def stripTopLevelNotNull(s: String): (Boolean, String) = {
    val NotNullHere = "(?is)^NOT\\s+NULL\\b".r
    var i = 0
    var depth = 0
    var quote: Char = 0
    while (i < s.length) {
      val c = s(i)
      if (quote != 0) { if (c == quote) quote = 0 }
      else c match {
        case '\'' | '"' | '`' => quote = c
        case '(' | '<' | '{' => depth += 1
        case ')' | '>' | '}' => depth -= 1
        case 'n' | 'N' if depth == 0 &&
            (i == 0 || (!s(i - 1).isLetterOrDigit && s(i - 1) != '_')) =>
          NotNullHere.findFirstMatchIn(s.substring(i)) match {
            case Some(m) =>
              return (true, (s.substring(0, i) + s.substring(i + m.end)).trim)
            case None =>
          }
        case _ =>
      }
      i += 1
    }
    (false, s.trim)
  }

  private val PathForm = """(?is)^gvt\s*\.\s*`([^`]+)`$""".r

  /** CREATE TABLE target resolution: the `` gvt.`path` `` form is the
    * root itself (no catalog entry); a name form takes the `path`
    * option, else the session catalog's default location for the name,
    * and registers the name afterwards. */
  private[plans] def createTarget(spark: SparkSession, target: String,
                                  options: Map[String, String])
      : (String, Option[String]) =
    target.trim match {
      case PathForm(p) => (p, None)
      case ident =>
        val name = ident.stripPrefix("`").stripSuffix("`")
        val root = options.getOrElse("path",
          spark.sessionState.catalog.defaultTablePath(
            spark.sessionState.sqlParser.parseTableIdentifier(name))
            .getPath)
        (root, Some(name))
    }

  /** Does a statement target resolve to a gvt relation? Used to avoid
    * claiming statements that are also valid Spark SQL. */
  private[plans] def isGvtTarget(spark: SparkSession, target: String): Boolean =
    target.trim match {
      case PathForm(_) => true
      case ident =>
        val name = ident.stripPrefix("`").stripSuffix("`")
        try GvtDml.gvtRootOf(spark.table(name).queryExecution.analyzed).isDefined
        catch { case scala.util.control.NonFatal(_) => false }
    }

  /** A materialized view's storage target: the `` gvt.`path` `` form
    * only — the MV table does not exist yet at CREATE time, so a name
    * cannot resolve through the catalog. */
  private[plans] def mvPathOf(target: String): String = target.trim match {
    case PathForm(p) => p
    case other => throw new IllegalArgumentException(
      s"materialized view target must be the gvt.`/path` form, got: $other")
  }

  /** Resolve a statement target to its gvt table root: the
    * `` gvt.`path` `` form directly, otherwise the analyzed plan of the
    * named view/table must be a gvt relation. */
  private[plans] def rootOf(spark: SparkSession, target: String): String =
    target.trim match {
      case PathForm(p) => p
      case ident =>
        val name = ident.stripPrefix("`").stripSuffix("`")
        val plan = spark.table(name).queryExecution.analyzed
        GvtDml.gvtRootOf(plan).getOrElse(throw new IllegalArgumentException(
          s"$name is not a gvt table/view — OPTIMIZE/VACUUM/DESCRIBE " +
            "HISTORY apply to gvt relations only"))._1
    }
}

/** `OPTIMIZE t [ZORDER BY (…)]` → chain fold when eligible, else the
  * full compaction rewrite. Returns the resulting live version. */
/** `SHOW PARTITIONS <gvt>` → the live snapshot's hive partition specs
  * from directory names alone ([[VersionedTable.showPartitions]] —
  * no job, no data read). */
case class GvtShowPartitionsCommand(target: String)
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("partition", StringType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] =
    VersionedTable.showPartitions(GvtSqlParser.rootOf(spark, target))
      .map(Row(_))
}

/** `` CONVERT TO GVT parquet.`/path` `` → in-place conversion of a
  * plain parquet directory into a gvt table
  * ([[VersionedTable.convertFromParquet]] — file renames, zero bytes
  * copied; Delta's CONVERT TO DELTA analogue). */
case class GvtConvertCommand(path: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] =
    Seq(Row(VersionedTable.convertFromParquet(spark, path)))
}

/** `REORG TABLE t APPLY (PURGE)` → [[VersionedTable.purge]]: one
  * rewrite that materializes deletion vectors, drops retired physical
  * columns' data, and resets the column mapping. */
case class GvtReorgCommand(target: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("new_version", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val root = GvtSqlParser.rootOf(spark, target)
    Seq(Row(VersionedTable.purge(spark, root)))
  }
}

case class GvtOptimizeCommand(target: String, zorderBy: Seq[String],
                              where: Option[String] = None,
                              full: Boolean = false)
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("new_version", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val root = GvtSqlParser.rootOf(spark, target)
    val v = VersionedTable.latestVersion(root).getOrElse(
      throw new IllegalArgumentException(s"no versions at $root"))
    if (full && (where.isDefined || zorderBy.nonEmpty))
      throw new UnsupportedOperationException(
        "OPTIMIZE FULL takes no WHERE or ZORDER BY — it re-clusters the " +
          "whole table on the registered gvt.clusterBy keys")
    // Delta's optimize.minFileSize conf as a table property: when
    // `gvt.optimize.minFileBytes` is set, OPTIMIZE bin-packs ONLY files
    // below the threshold — O(small files), the 100 TB-safe default,
    // and idempotent under scheduling; unset keeps the legacy
    // full-rewrite/fold semantics. ZORDER keeps full-scope semantics.
    val minB =
      if (zorderBy.nonEmpty) None
      else (try VersionedTable.tblProperties(root) catch {
        case scala.util.control.NonFatal(_) => Map.empty[String, String]
      }).get("gvt.optimize.minFileBytes")
        .flatMap(s => scala.util.Try(s.trim.toLong).toOption)
    // `OPTIMIZE t WHERE <partition predicate>` — the O(selected)
    // scoped rewrite; never the whole table. Honors the small-file
    // threshold within the scope.
    where.foreach { w =>
      return Seq(Row(VersionedTable.compactWhere(spark, root,
        org.apache.spark.sql.functions.expr(w), zorderBy = zorderBy,
        minFileBytes = minB)))
    }
    // Liquid-clustering analogue: registered cluster keys turn plain
    // OPTIMIZE into the incremental cluster rewrite — O(new data since
    // the last OPTIMIZE), idempotent under scheduling. `OPTIMIZE t
    // FULL` re-clusters EVERYTHING on the current keys (Delta's FULL
    // keyword — the escape hatch after a key change or for a drifted
    // layout); an explicit ZORDER BY keeps its full-recluster meaning.
    if (zorderBy.isEmpty && VersionedTable.clusterByOf(root).nonEmpty)
      return Seq(Row(
        VersionedTable.clusterIncremental(spark, root, force = full)))
    if (full)
      throw new UnsupportedOperationException(
        s"OPTIMIZE FULL: $root has no gvt.clusterBy keys registered — " +
          "FULL re-clusters a clustered table (ALTER TABLE … CLUSTER BY)")
    minB.foreach { b =>
      return Seq(Row(VersionedTable.compactSmall(spark, root, b)))
    }
    val snap = VersionedTable.snapshot(root, v)
    val chainFoldable = zorderBy.isEmpty && snap.dvDirs.isEmpty &&
      snap.dataDirs.size > 2 && snap.roots == Set(root)
    val nv =
      if (chainFoldable) VersionedTable.compactChain(spark, root)
      else VersionedTable.compact(spark, root, zorderBy = zorderBy)
    Seq(Row(nv))
  }
}

/** `VACUUM t [RETAIN n HOURS] [DRY RUN]` → retention with the Delta
  * window contract; returns the dropped (or, dry, would-drop)
  * versions, ascending. */
case class GvtVacuumCommand(target: String, retainMs: Option[Long],
                            dryRun: Boolean = false)
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("dropped_version", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val root = GvtSqlParser.rootOf(spark, target)
    VersionedTable.vacuum(root, keep = 1,
      retainMinMs = retainMs.getOrElse(24L * 3600 * 1000), dryRun = dryRun)
      .map(Row(_))
  }
}

/** `RESTORE [TABLE] t [TO] TIMESTAMP AS OF '<ts>'` → restore to the
  * newest snapshot at or before the timestamp (epoch millis or
  * `yyyy-MM-dd HH:mm:ss`). */
case class GvtRestoreTimestampCommand(target: String, ts: String)
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("new_version", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val root = GvtSqlParser.rootOf(spark, target)
    val millis = scala.util.Try(ts.toLong).getOrElse(
      java.sql.Timestamp.valueOf(ts).getTime)
    Seq(Row(VersionedTable.restore(spark, root,
      VersionedTable.versionAsOf(root, millis))))
  }
}

/** `TRUNCATE TABLE t` → commit an empty snapshot (schema preserved,
  * history time-travelable until vacuumed — Delta's TRUNCATE). A
  * partitioned table's layout survives as declared layout (`_layout`
  * meta on the schema-only empty commit — the zero-row write cannot
  * carry hive directories), so post-truncate appends keep
  * partitioning. */
case class GvtTruncateCommand(target: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("new_version", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val root = GvtSqlParser.rootOf(spark, target)
    val parts = VersionedTable.latestSnapshot(root).getOrElse(
      throw new IllegalArgumentException(s"no versions at $root")).layout
    val meta = if (parts.isEmpty) Map.empty[String, String]
      else Map("_schema_only" -> "1", "_layout" -> parts.mkString(","))
    Seq(Row(VersionedTable.write(
      VersionedTable.readLatest(spark, root).limit(0), root,
      metaFiles = meta, operation = "TRUNCATE", assignIdentity = false)))
  }
}

/** `RESTORE [TABLE] t [TO] VERSION AS OF n` → re-commit snapshot n's
  * content as a NEW version on top (history preserved, concurrent
  * writers conflict instead of being rolled back — Delta RESTORE). */
case class GvtRestoreCommand(target: String, version: Long)
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("new_version", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val root = GvtSqlParser.rootOf(spark, target)
    Seq(Row(VersionedTable.restore(spark, root, version)))
  }
}

/** `ALTER TABLE t ADD CONSTRAINT n CHECK (expr)` → register a table
  * CHECK constraint: the LIVE snapshot must already satisfy it, and
  * every future write path validates (Delta's surface + contract). */
case class GvtAddConstraintCommand(target: String, name: String,
                                   exprSql: String) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    VersionedTable.addCheckConstraint(spark,
      GvtSqlParser.rootOf(spark, target), name, exprSql)
    Seq.empty
  }
}

/** `ALTER TABLE t DROP CONSTRAINT n`. */
case class GvtDropConstraintCommand(target: String, name: String)
  extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    VersionedTable.dropCheckConstraint(
      GvtSqlParser.rootOf(spark, target), name)
    Seq.empty
  }
}

/** `ALTER TABLE t SET TBLPROPERTIES ('k' = 'v', …)` → upsert into the
  * table's property registry (existing keys overwrite — Delta). */
case class GvtSetPropertiesCommand(target: String,
                                   props: Map[String, String])
  extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val root = GvtSqlParser.rootOf(spark, target)
    VersionedTable.setTblProperties(root, props)
    // enabling the change feed BACKFILLS history (O(changed) per
    // sidecar-less UPDATE_DV commit), so keyless table_changes serves
    // the full retained range from the moment of enablement — not just
    // future commits (Delta's limitation)
    if (props.get("gvt.enableChangeDataFeed")
        .exists(_.trim.equalsIgnoreCase("true")))
      VersionedTable.backfillChangeFeed(spark, root)
    Seq.empty
  }
}

/** `ALTER TABLE t UNSET TBLPROPERTIES [IF EXISTS] (k, …)`. */
case class GvtUnsetPropertiesCommand(target: String, keys: Seq[String])
  extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    VersionedTable.unsetTblProperties(GvtSqlParser.rootOf(spark, target), keys)
    Seq.empty
  }
}

/** `SHOW TBLPROPERTIES t` → (key, value) rows, key-ordered. */
case class GvtShowPropertiesCommand(target: String)
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("key", StringType, nullable = false)(),
    AttributeReference("value", StringType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] =
    VersionedTable.tblProperties(GvtSqlParser.rootOf(spark, target))
      .toSeq.sortBy(_._1).map { case (k, v) => Row(k, v) }
}

/** `ALTER TABLE t ADD COLUMNS (c1 T1, …)` →
  * [[VersionedTable.addColumns]]: an O(1) schema-only evolution commit
  * (older chain members NULL-pad at read). A `GENERATED … AS IDENTITY`
  * suffix additionally registers the column as an identity
  * ([[VersionedTable.addIdentityColumn]]) — future writes fill its
  * missing/NULL values with fresh monotonic ids. */
case class GvtAddColumnsCommand(target: String,
                                cols: Seq[GvtSqlParser.ColSpec])
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("new_version", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val root = GvtSqlParser.rootOf(spark, target)
    // validate EVERYTHING up front, before any state changes: a
    // mid-sequence failure previously left partial state (a generated
    // column registered with no schema commit when the add-list
    // clashed, or the column added without its identity registration
    // when the BIGINT check ran last)
    val base = VersionedTable.latestVersion(root).getOrElse(
      throw new IllegalArgumentException(
        s"ADD COLUMNS requires an existing table at $root"))
    val live = VersionedTable.readVersion(spark, root, base)
    val clash = cols.map(_.name).filter(n =>
      live.columns.exists(_.equalsIgnoreCase(n)))
    require(clash.isEmpty,
      s"ADD COLUMNS: column(s) already exist: ${clash.mkString(", ")}")
    require(cols.map(_.name.toLowerCase).distinct.size == cols.size,
      "ADD COLUMNS: duplicate column names in the add list")
    cols.foreach(c => c.identity.foreach { _ =>
      require(c.dataType == LongType,
        s"identity column ${c.name} must be BIGINT (got ${c.dataType})")
      require(c.generated.isEmpty,
        s"${c.name}: a column cannot be both GENERATED AS (expr) and IDENTITY")
    })
    // NOT NULL onto a table that already has rows can never hold (the
    // added column reads NULL for every existing row) — refuse BEFORE
    // any state changes, naming the would-be constraint
    if (cols.exists(_.notNull) && VersionedTable.metaRowCount(root,
        Some(base)) > 0)
      throw new IllegalArgumentException(
        s"ADD COLUMNS: ${cols.filter(_.notNull).map(c =>
          s"${c.name}_not_null").mkString(", ")} cannot hold — existing " +
          "rows read NULL for a new column; add it nullable, backfill, " +
          "then ALTER TABLE ADD CONSTRAINT")
    // generated columns register BEFORE the schema commit (the
    // pre-commit snapshot lacks the column, so registration validation
    // passes trivially; registered after, it would see the all-NULL
    // column and refuse); a failed commit rolls the registrations back
    val registered = cols.flatMap(c => c.generated.map(c.name -> _))
    registered.foreach { case (n, e) =>
      VersionedTable.addGeneratedColumn(spark, root, n, e) }
    val nv =
      try VersionedTable.addColumns(spark, root,
        cols.map(c => c.name -> c.dataType))
      catch { case t: Throwable =>
        registered.foreach { case (n, _) =>
          try VersionedTable.removeGeneratedColumn(root, n)
          catch { case scala.util.control.NonFatal(_) => () }
        }
        throw t
      }
    cols.foreach(c => c.identity.foreach { case (start, step) =>
      VersionedTable.addIdentityColumn(spark, root, c.name, start, step)
    })
    // `c T DEFAULT expr` registers exactly like ALTER COLUMN SET DEFAULT
    cols.foreach(c => c.default.foreach(e =>
      VersionedTable.setColumnDefault(spark, root, c.name, e)))
    // NOT NULL on an added column validates the LIVE snapshot: with
    // existing rows the new column is all-NULL, so this refuses loudly
    // (add nullable + backfill + ADD CONSTRAINT instead) — on an empty
    // table it registers cleanly
    cols.filter(_.notNull).foreach(c =>
      VersionedTable.addCheckConstraint(spark, root,
        s"${c.name}_not_null", s"${c.name} IS NOT NULL"))
    Seq(Row(nv))
  }
}

/** `ALTER TABLE t DROP COLUMN[S] …` → [[VersionedTable.dropColumns]]:
  * an O(1) metadata commit under column mapping (requires the
  * `gvt.columnMapping = name` table property, the Delta contract);
  * history keeps the columns, the live schema loses them, and the
  * retired physical storage can never resurface under a re-added
  * name. */
case class GvtDropColumnsCommand(target: String, cols: Seq[String])
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("new_version", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] =
    Seq(Row(VersionedTable.dropColumns(spark,
      GvtSqlParser.rootOf(spark, target), cols)))
}

/** `ALTER TABLE t RENAME COLUMN a TO b` →
  * [[VersionedTable.renameColumn]] (O(1) metadata commit under column
  * mapping; data files untouched). */
case class GvtRenameColumnCommand(target: String, from: String, to: String)
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("new_version", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] =
    Seq(Row(VersionedTable.renameColumn(spark,
      GvtSqlParser.rootOf(spark, target), from, to)))
}

/** `ALTER TABLE t ALTER COLUMN c SET DEFAULT <expr>` →
  * [[VersionedTable.setColumnDefault]]: future writes OMITTING the
  * column fill it with the expression (explicit NULLs stay NULL — the
  * SQL DEFAULT contract). */
/** `ALTER TABLE t ALTER COLUMN c TYPE <t>` → a lossless type-widening
  * schema-only commit ([[VersionedTable.widenColumnType]]). */
case class GvtAlterTypeCommand(target: String, colName: String,
                               newType: org.apache.spark.sql.types.DataType)
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("new_version", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    Seq(Row(VersionedTable.widenColumnType(spark,
      GvtSqlParser.rootOf(spark, target), colName, newType)))
  }
}

case class GvtSetDefaultCommand(target: String, colName: String,
                                exprSql: String) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    VersionedTable.setColumnDefault(spark,
      GvtSqlParser.rootOf(spark, target), colName, exprSql)
    Seq.empty
  }
}

/** `ALTER TABLE t ALTER COLUMN c DROP DEFAULT`. */
case class GvtDropDefaultCommand(target: String, colName: String)
  extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    VersionedTable.dropColumnDefault(
      GvtSqlParser.rootOf(spark, target), colName)
    Seq.empty
  }
}

/** `ANALYZE TABLE t COMPUTE STATISTICS [NOSCAN]` →
  * [[VersionedTable.analyzeTable]]: a metadata-only (footer-count) stats
  * record for the live version, served to the planner via the gvt
  * relation's `sizeInBytes` — broadcast selection and join order over
  * gvt tables follow it. Returns the computed record. */
case class GvtAnalyzeCommand(target: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType, nullable = false)(),
    AttributeReference("num_rows", LongType, nullable = false)(),
    AttributeReference("size_bytes", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val (v, rows, bytes) = VersionedTable.analyzeTable(
      spark, GvtSqlParser.rootOf(spark, target))
    Seq(Row(v, rows, bytes))
  }
}

/** `DESCRIBE DETAIL t` → the one-row table summary. */
case class GvtDescribeDetailCommand(target: String)
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("format", StringType, nullable = false)(),
    AttributeReference("location", StringType, nullable = false)(),
    AttributeReference("version", LongType, nullable = false)(),
    AttributeReference("num_versions", LongType, nullable = false)(),
    AttributeReference("num_files", LongType, nullable = false)(),
    AttributeReference("size_bytes", LongType, nullable = false)(),
    AttributeReference("num_rows", LongType, nullable = false)(),
    AttributeReference("partition_columns", StringType, nullable = false)(),
    // Delta detail's clusteringColumns (gvt.clusterBy registration)
    AttributeReference("clustering_columns", StringType, nullable = false)(),
    AttributeReference("properties", StringType, nullable = false)(),
    AttributeReference("reader_features", StringType, nullable = false)(),
    AttributeReference("writer_features", StringType, nullable = false)(),
    // ANALYZE TABLE record for the LIVE version (NULL if none/stale)
    AttributeReference("analyzed_rows", LongType, nullable = true)(),
    AttributeReference("analyzed_bytes", LongType, nullable = true)())
  override def run(spark: SparkSession): Seq[Row] = {
    val root = GvtSqlParser.rootOf(spark, target)
    val d = VersionedTable.detail(root)
    val stats = VersionedTable.tableStats(root, d.version)
    Seq(Row(d.format, d.location, d.version, d.numVersions, d.numFiles,
      d.sizeBytes, d.numRows, d.partitionColumns.mkString(","),
      VersionedTable.clusterByOf(root).mkString(","),
      d.properties.toSeq.sorted.map { case (k, v) => s"$k=$v" }
        .mkString(","),
      d.readerFeatures.toSeq.sorted.mkString(","),
      d.writerFeatures.toSeq.sorted.mkString(","),
      stats.map(s => java.lang.Long.valueOf(s._1)).orNull,
      stats.map(s => java.lang.Long.valueOf(s._2)).orNull))
  }
}

/** `CREATE TABLE dst [SHALLOW|DEEP] CLONE src [VERSION AS OF n]` →
  * [[VersionedTable.cloneTable]]. Default (no keyword) is a DEEP clone,
  * Delta's default. The destination is typically the `` gvt.`path` ``
  * form (a fresh root); a view-name destination must already resolve to
  * an (empty) gvt root, which CREATE TABLE cannot conjure — so path
  * form is the practical surface, like Delta's `delta.`path``. */
case class GvtCloneCommand(dst: String, src: String, shallow: Boolean,
                           version: Option[Long])
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("new_version", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] =
    Seq(Row(VersionedTable.cloneTable(spark,
      GvtSqlParser.rootOf(spark, src), GvtSqlParser.rootOf(spark, dst),
      version = version, shallow = shallow)))
}

/** `CREATE TABLE [IF NOT EXISTS] t (col type [GENERATED …], …) USING
  * gvt [OPTIONS (path '…')] [PARTITIONED BY (…)] [TBLPROPERTIES (…)]`
  * → [[VersionedTable.createTable]]: the standard schema-first SQL
  * workflow (declare, then INSERT) — a schema-only v1 commit, O(1) at
  * any scale. The `` gvt.`path` `` form creates at the path; a NAME
  * form takes `OPTIONS (path …)` or the session catalog's default
  * table location, and afterwards registers the name as a catalog
  * table over the (now existing) root, so plain `SELECT … FROM name`
  * and INSERT resolve it. Column suffixes register exactly as ADD
  * COLUMNS does: `GENERATED … AS IDENTITY (START WITH s INCREMENT BY
  * n)` and `GENERATED ALWAYS AS (expr)` (a generated column MAY be a
  * partition column — the derived-partition-pruning pattern). */
case class GvtCreateTableCommand(target: String, ifNotExists: Boolean,
                                 cols: Seq[GvtSqlParser.ColSpec],
                                 options: Map[String, String],
                                 partitionBy: Seq[String],
                                 props: Map[String, String],
                                 orReplace: Boolean = false)
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("new_version", LongType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val names = cols.map(_.name)
    require(names.map(_.toLowerCase).distinct.size == names.size,
      "CREATE TABLE: duplicate column names")
    partitionBy.foreach(p => require(names.contains(p),
      s"CREATE TABLE: PARTITIONED BY column $p is not declared"))
    cols.foreach { c =>
      c.identity.foreach { _ =>
        require(c.dataType == LongType,
          s"identity column ${c.name} must be BIGINT (got ${c.dataType})")
        require(!partitionBy.contains(c.name),
          s"identity column ${c.name} cannot be a partition column")
        require(c.generated.isEmpty,
          s"${c.name}: a column cannot be both GENERATED AS (expr) and IDENTITY")
      }
    }
    val (root, catalogName) = GvtSqlParser.createTarget(spark, target, options)
    val existing = VersionedTable.latestVersion(root)
    val schema0 = org.apache.spark.sql.types.StructType(cols.map(c =>
      org.apache.spark.sql.types.StructField(c.name, c.dataType,
        nullable = true)))
    def register(): Unit = {
      cols.foreach(c => c.generated.foreach(e =>
        VersionedTable.addGeneratedColumn(spark, root, c.name, e)))
      cols.foreach(c => c.identity.foreach { case (start, step) =>
        VersionedTable.addIdentityColumn(spark, root, c.name, start, step)
      })
      cols.foreach(c => c.default.foreach(e =>
        VersionedTable.setColumnDefault(spark, root, c.name, e)))
      // NOT NULL = a named CHECK constraint (write-path enforced; SQL
      // CHECK semantics make `NULL IS NOT NULL` definitively FALSE)
      cols.filter(_.notNull).foreach(c =>
        VersionedTable.addCheckConstraint(spark, root,
          s"${c.name}_not_null", s"${c.name} IS NOT NULL"))
      if (props.nonEmpty) VersionedTable.setTblProperties(root, props)
    }
    val v = existing match {
      case Some(_) if orReplace =>
        // ONE redefining commit: new schema + layout, registrations of
        // the old definition cleared, history retained
        val keys = VersionedTable.tblProperties(root).keys.toSeq
        if (keys.nonEmpty) VersionedTable.unsetTblProperties(root, keys)
        val nv = VersionedTable.replaceTable(spark, root, schema0,
          partitionBy)
        register()
        nv
      case Some(cur) =>
        if (!ifNotExists) throw new IllegalArgumentException(
          s"CREATE TABLE: a gvt table already exists at $root " +
            "(use IF NOT EXISTS, or CREATE OR REPLACE)")
        cur // IF NOT EXISTS on an existing root: no-op (Delta semantics)
      case None =>
        val nv = VersionedTable.createTable(spark, root, schema0,
          partitionBy)
        // registrations validate against the (zero-row) live snapshot
        register()
        nv
    }
    // name form: register the catalog entry over the existing root —
    // the native schema-less CREATE resolves the relation (and thus the
    // stored schema) from the v1 commit just written
    catalogName.foreach { name =>
      spark.sql(s"CREATE TABLE IF NOT EXISTS $name USING gvt " +
        s"OPTIONS (path '$root')")
    }
    Seq(Row(v))
  }
}

/** `SHOW CREATE TABLE t` over a gvt relation: the full re-executable
  * DDL — the CREATE statement (columns with their identity / generated
  * / DEFAULT suffixes and NOT NULL markers, PARTITIONED BY, and
  * TBLPROPERTIES), followed by one `ALTER TABLE … ADD CONSTRAINT`
  * statement per non-NOT-NULL CHECK constraint. Running the emitted
  * statements against a fresh path recreates an equivalent table
  * (schema, layout, registrations) — the spec executes them to prove
  * it. */
case class GvtShowCreateTableCommand(target: String)
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("createtab_stmt", StringType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val root = GvtSqlParser.rootOf(spark, target)
    val snap = VersionedTable.latestSnapshot(root).getOrElse(
      throw new IllegalArgumentException(s"no versions at $root"))
    val schema = snap.schema
    val parts = snap.layout
    val idents = VersionedTable.identityColumns(root)
    val gens = VersionedTable.generatedColumns(root)
    val dflts = VersionedTable.columnDefaults(root)
    val cons = VersionedTable.constraints(root)
    val notNull = cons.collect {
      case (n, e) if schema.fieldNames.exists(c =>
        n == s"${c}_not_null" && e.trim.equalsIgnoreCase(s"$c IS NOT NULL")) =>
        n.stripSuffix("_not_null")
    }.toSet
    val colLines = schema.fields.map { f =>
      val sb = new StringBuilder(s"  ${f.name} ${f.dataType.sql}")
      if (notNull.contains(f.name)) sb.append(" NOT NULL")
      idents.get(f.name).foreach { case (start, step) =>
        sb.append(s" GENERATED ALWAYS AS IDENTITY (START WITH $start " +
          s"INCREMENT BY $step)") }
      gens.get(f.name).foreach(e => sb.append(s" GENERATED ALWAYS AS ($e)"))
      dflts.get(f.name).foreach(e => sb.append(s" DEFAULT $e"))
      sb.result()
    }
    val props = VersionedTable.tblProperties(root)
    val create = new StringBuilder
    create.append(s"CREATE TABLE gvt.`$root` (\n")
    create.append(colLines.mkString(",\n"))
    create.append("\n) USING gvt")
    if (parts.nonEmpty)
      create.append(s"\nPARTITIONED BY (${parts.mkString(", ")})")
    if (props.nonEmpty)
      create.append("\nTBLPROPERTIES (" + props.toSeq.sorted.map {
        case (k, vv) => s"'$k' = '$vv'" }.mkString(", ") + ")")
    val alters = cons.toSeq.sorted
      .filterNot { case (n, _) => notNull.exists(c => n == s"${c}_not_null") }
      .map { case (n, e) =>
        s"ALTER TABLE gvt.`$root` ADD CONSTRAINT $n CHECK ($e)" }
    (create.result() +: alters).map(Row(_))
  }
}

/** `CREATE BLOOMFILTER INDEX ON TABLE t FOR COLUMNS (c1, …)` (Delta's
  * bloom-filter index surface): registers `gvt.bloomIndexCols` so
  * EVERY future commit collects per-file bloom sidecars for the
  * columns (point-lookup file skipping on unclustered high-cardinality
  * keys, where zone maps can't help), and backfills the LIVE chain's
  * data dirs so existing files are indexed immediately. Blooms are
  * advisory — a dir without one keeps all files (sound) — so index
  * creation is never a correctness event. */
case class GvtCreateBloomIndexCommand(target: String, cols: Seq[String])
  extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    require(cols.nonEmpty, "CREATE BLOOMFILTER INDEX: no columns")
    val root = GvtSqlParser.rootOf(spark, target)
    val snap = VersionedTable.latestSnapshot(root).getOrElse(
      throw new IllegalArgumentException(s"no versions at $root"))
    cols.foreach(c => require(snap.schema.fieldNames.contains(c),
      s"CREATE BLOOMFILTER INDEX: no column $c in the live schema"))
    VersionedTable.setTblProperties(root,
      Map("gvt.bloomIndexCols" -> cols.mkString(",")))
    // backfill: every data dir of the live chain inside this root
    // (cross-root shallow-clone dirs index under their own table)
    snap.dataBearingDirs
      .filter(_.startsWith(s"$root/"))
      .foreach { d =>
        val dv = d.substring(d.lastIndexOf("v=") + 2).toLong
        VersionedTable.collectBlooms(spark, root, dv, cols)
      }
    Seq.empty
  }
}

/** `DROP BLOOMFILTER INDEX ON TABLE t`: unregister and remove the live
  * chain's sidecars (readers degrade gracefully mid-drop — blooms are
  * advisory). */
case class GvtDropBloomIndexCommand(target: String)
  extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val root = GvtSqlParser.rootOf(spark, target)
    VersionedTable.unsetTblProperties(root, Seq("gvt.bloomIndexCols"))
    VersionedTable.latestSnapshot(root).getOrElse(
      throw new IllegalArgumentException(s"no versions at $root")).dataDirs
      .filter(_.startsWith(s"$root/"))
      .foreach(d => VersionedTable.deleteBloomSidecar(d))
    Seq.empty
  }
}

/** `COPY INTO t FROM '<dir>' FILEFORMAT = PARQUET [PATTERN = '<glob>']`
  * → [[VersionedTable.copyInto]]: file-level idempotent bulk load. */
case class GvtCopyIntoCommand(target: String, from: String,
                              fileFormat: String, pattern: Option[String])
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("files_loaded", LongType, nullable = false)(),
    AttributeReference("rows_loaded", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val (files, rows) = VersionedTable.copyInto(spark,
      GvtSqlParser.rootOf(spark, target), from, pattern, fileFormat)
    Seq(Row(files, rows))
  }
}

/** `DESCRIBE HISTORY t` → the commit chain, newest first. */
case class GvtHistoryCommand(target: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType, nullable = false)(),
    AttributeReference("commit_ts_millis", LongType, nullable = true)(),
    AttributeReference("operation", StringType, nullable = false)(),
    AttributeReference("num_files", LongType, nullable = true)(),
    AttributeReference("size_bytes", LongType, nullable = true)(),
    AttributeReference("num_masked_rows", LongType, nullable = true)())
  override def run(spark: SparkSession): Seq[Row] = {
    val root = GvtSqlParser.rootOf(spark, target)
    VersionedTable.history(spark, root).collect().toSeq
  }
}

/** The `table_changes` table-valued function (Delta's CDF SQL surface):
  *
  *   SELECT * FROM table_changes('<view-or-path>', fromV, toV[, '<keys>'])
  *
  * → [[VersionedTable.changes]] between the two committed versions:
  * every row classified insert / delete / update_preimage+postimage,
  * with the O(batch) no-join fast path when the range is pure appends.
  * With the optional 4th argument (comma-separated key columns),
  * rewrite commits diff by key join — storage-free, the retained
  * snapshots ARE the log. WITHOUT keys (Delta's exact signature),
  * appends and sidecar-less DELETE_DV / REPLACE_WHERE hops serve
  * keylessly, and any rewrite that committed under
  * `gvt.enableChangeDataFeed` serves its `_cdf` sidecar; anything else
  * refuses loudly with the property hint. Injected by
  * [[graft.GraftExtensions]] via `injectTableFunction`. */
object GvtTableChanges {
  import org.apache.spark.sql.catalyst.expressions.Expression

  def builder(args: Seq[Expression]): LogicalPlan = {
    require(args.size == 3 || args.size == 4,
      "table_changes(table_or_path, fromVersion, toVersion[, keysCsv]) " +
        s"takes 3 or 4 arguments, got ${args.size}")
    def eval(e: Expression, what: String): Any = {
      require(e.foldable, s"table_changes: $what must be a literal")
      val v = e.eval(null)
      require(v != null, s"table_changes: $what must not be NULL")
      v
    }
    val spark = SparkSession.active
    val target = eval(args(0), "table").toString
    val fromV = eval(args(1), "fromVersion").toString.toLong
    val toV = eval(args(2), "toVersion").toString.toLong
    val keys =
      if (args.size < 4) Seq.empty
      else eval(args(3), "keys").toString
        .split(',').map(_.trim).filter(_.nonEmpty).toSeq
    val root =
      if (target.contains("/")) target
      else GvtSqlParser.rootOf(spark, target)
    VersionedTable.changes(spark, root, fromV, toV, keys)
      .queryExecution.logical
  }
}

/** `CREATE MATERIALIZED VIEW gvt.`/path` AS <query>` — the SQL surface
  * of [[graft.sources.MaterializedView]] (Databricks ships the same
  * statement for Delta). Two tiers, chosen automatically from the
  * defining query's analyzed plan:
  *
  *  - ALGEBRAIC: a plain sum/count/min/max aggregate over bare columns
  *    of a single live gvt relation registers with the re-aggregable
  *    algebra — rollup/filter/avg rewrites at any grouping subset,
  *    change-feed incremental refresh
  *    ([[graft.sources.MaterializedView.create]]).
  *  - EXACT: any other runnable shape (joins, WHERE, DISTINCT,
  *    expressions) registers for whole-subtree `sameResult` matching
  *    with structural freshness and re-run refresh
  *    ([[graft.sources.MaterializedView.createExact]]) — it must read
  *    at least one gvt relation (the freshness anchor).
  *
  * Returns (mv_root, base_version) — base_version is -1 for the exact
  * tier (multiple bases are pinned structurally, not by one number). */
case class GvtCreateMvCommand(target: String, query: String)
  extends LeafRunnableCommand {
  import org.apache.spark.sql.catalyst.expressions.Alias
  import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Average, Count, Max, Min, Sum}
  import org.apache.spark.sql.catalyst.expressions.Literal
  import org.apache.spark.sql.catalyst.plans.logical.Aggregate
  import graft.sources.MaterializedView
  import graft.sources.MaterializedView.AggSpec

  override val output: Seq[Attribute] = Seq(
    AttributeReference("mv_root", StringType, nullable = false)(),
    AttributeReference("base_version", LongType, nullable = false)())

  private def refuse(what: String): Nothing =
    throw new UnsupportedOperationException(
      s"CREATE MATERIALIZED VIEW: $what — supported defining shape: " +
        "SELECT <group cols>, <sum/count/min/max(col) AS name> " +
        "FROM <single gvt view> GROUP BY <group cols>")

  override def run(spark: SparkSession): Seq[Row] = {
    val mvRoot = GvtSqlParser.mvPathOf(target)
    // algebraic shape first (rollup rewrite + incremental refresh);
    // anything the algebra refuses registers as an EXACT view instead
    // (whole-subtree sameResult matching, rebuild refresh) — so every
    // runnable defining query materializes, with the strongest
    // available maintenance
    try algebraic(spark, mvRoot)
    catch {
      case _: UnsupportedOperationException =>
        MaterializedView.createExact(spark, mvRoot, query)
        Seq(Row(mvRoot, -1L))
    }
  }

  private def algebraic(spark: SparkSession, mvRoot: String): Seq[Row] = {
    val plan = spark.sql(query).queryExecution.analyzed
    val (groupNames, aggSpecs, baseRoot) = plan match {
      case Aggregate(ge, ae, child, _) =>
        val (root, pinned) = GvtDml.gvtRootOf(child).getOrElse(
          refuse("FROM must be a single gvt view or gvt.`path` relation " +
            "(no WHERE, no joins)"))
        if (pinned) refuse("a time-travel-pinned source cannot back a " +
          "live materialized view")
        val groups = ge.map {
          case a: AttributeReference => a.name
          case other => refuse(s"GROUP BY must list bare columns, got $other")
        }
        val aggs = ae.flatMap {
          case a: AttributeReference if groups.contains(a.name) => None
          case al @ Alias(a: AttributeReference, _)
              if groups.contains(a.name) =>
            if (al.name != a.name)
              refuse(s"group column ${a.name} must not be aliased " +
                s"(got AS ${al.name})")
            None
          case al @ Alias(ag: AggregateExpression, _) =>
            if (ag.filter.nonEmpty) refuse("FILTER clauses are not " +
              "re-aggregable")
            (ag.aggregateFunction, ag.isDistinct) match {
              // count(DISTINCT c): maintained via the per-(group,
              // value) multiplicity side table — inserts AND deletes
              // fold incrementally, subset rollups serve off the side
              case (Count(Seq(a: AttributeReference)), true) =>
                Some(AggSpec("count_distinct", a.name, al.name))
              case (_, true) => refuse("only count(DISTINCT col) is " +
                "maintainable among DISTINCT aggregates")
              case (f, false) => f match {
              case Sum(a: AttributeReference, _) =>
                Some(AggSpec("sum", a.name, al.name))
              case Count(Seq(l: Literal)) if l.value != null =>
                Some(AggSpec("count", "*", al.name))
              case Count(Seq(a: AttributeReference)) =>
                Some(AggSpec("count", a.name, al.name))
              case Min(a: AttributeReference) =>
                Some(AggSpec("min", a.name, al.name))
              case Max(a: AttributeReference) =>
                Some(AggSpec("max", a.name, al.name))
              case _: Average =>
                refuse("avg is served by the REWRITE from a sum — " +
                  "declare sum(col) in the view and query avg(col)")
              case other =>
                refuse(s"aggregate $other is not re-aggregable")
              }
            }
          case other =>
            refuse(s"output $other is neither a group column nor a " +
              "supported aggregate alias")
        }
        if (aggs.isEmpty) refuse("at least one aggregate is required")
        (groups, aggs, root)
      case _ => refuse("the defining query must be a GROUP BY aggregate")
    }
    val v = MaterializedView.create(spark, baseRoot, mvRoot,
      groupNames, aggSpecs)
    Seq(Row(mvRoot, v))
  }
}

/** `REFRESH MATERIALIZED VIEW <gvt.`path`>` →
  * [[graft.sources.MaterializedView.refresh]]: change-feed incremental
  * when the algebra allows, full re-aggregation otherwise; no-op when
  * already fresh. Returns the MV's now-current base version. */
case class GvtRefreshMvCommand(target: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("base_version", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val mvRoot = GvtSqlParser.mvPathOf(target)
    Seq(Row(graft.sources.MaterializedView.refresh(spark, mvRoot)))
  }
}

/** `DROP MATERIALIZED VIEW <gvt.`path`>` → deregister from the rewrite
  * ([[graft.sources.MaterializedView.drop]]); the versioned MV table
  * stays on disk for VACUUM / re-attach. */
case class GvtDropMvCommand(target: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Nil
  override def run(spark: SparkSession): Seq[Row] = {
    graft.sources.MaterializedView.drop(GvtSqlParser.mvPathOf(target))
    Nil
  }
}

/** `SHOW MATERIALIZED VIEWS [ON gvt.`/base/path`]` — one row per
  * registered view (both tiers): its root, maintenance tier, base
  * roots with the recorded versions, the pinned MV table version the
  * rewrite serves, and whether every base is still at its recorded
  * version (fresh = the rewrite fires). `ON <base>` first runs the
  * lazy storage-backed discovery for that base, so views persisted by
  * an earlier session list without a query having touched the base. */
case class GvtShowMvCommand(base: Option[String]) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("mv_root", StringType, nullable = false)(),
    AttributeReference("tier", StringType, nullable = false)(),
    AttributeReference("bases", StringType, nullable = false)(),
    AttributeReference("base_versions", StringType, nullable = false)(),
    AttributeReference("mv_version", LongType, nullable = false)(),
    AttributeReference("fresh", BooleanType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    import graft.sources.MaterializedView
    val baseKey = base.map { b =>
      val p = GvtSqlParser.mvPathOf(b)
      MaterializedView.discover(spark, p)
      MaterializedView.norm(p)
    }
    MaterializedView.describeRegistered()
      .filter { case (_, _, bases, _) => baseKey.forall(k =>
        bases.exists(x => MaterializedView.norm(x._1) == k)) }
      .map { case (mv, tier, bases, mvv) =>
        val fresh = bases.forall { case (r, v) =>
          VersionedTable.latestVersion(r).contains(v) }
        Row(mv, tier, bases.map(_._1).mkString(","),
          bases.map(_._2).mkString(","), mvv, fresh)
      }
  }
}
