package graft.datalog

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StringType}

/** Where triple patterns get their rows. Two shapes, mirroring SURVEY §1.2's
  * mapping decision:
  *
  *  - [[QuadSource]]: a schemaless EAV quad table (e, a, v_str/v_num/...)
  *    with a per-attribute type registry — the reference's content indexes
  *    (crux-core/src/crux/kv/index_store.clj:936-963) as a DataFrame.
  *  - [[TableSource]]: schema-per-table parquet (crux-sql style,
  *    crux-sql/src/crux/calcite.clj:456-465): attribute = column, entity =
  *    row. `entityScan` serves N attributes of one entity var from a single
  *    scan — the scale-critical path (no self-joins per attribute).
  *
  * Multi-valued (array) columns are exploded to one row per element,
  * matching the reference's index semantics (codec.clj:822-828).
  */
trait FactSource {
  def attrs: Set[String]
  /** Stable identity of this source's DATA (e.g. "tpch:<dir>") — the
    * compiled-query cache key component ([[Planner.q]]). None (default)
    * = ad-hoc source over computed frames, never cached. */
  def cacheKey: Option[String] = None
  /** Attributes holding string values — the search space of
    * `wildcard-text-search` (crux-lucene/src/crux/lucene.clj:184-189).
    * Abstract on purpose: defaulting to `attrs` would rlike/union over
    * non-string value columns. */
  def stringAttrs: Set[String]
  /** All string (eid, a, value) facts in as few scans as the source can
    * manage — one per TABLE for TableSource instead of one per attribute
    * — the whole-corpus scan wildcard-text-search needs. None = caller
    * falls back to unioning per-attribute scans. */
  def stringQuads: Option[DataFrame] = None
  /** DataFrame with columns (eid, value) for one attribute. */
  def attr(a: String): DataFrame
  /** Single-scan multi-attribute entity projection: (eid, a1..an), arrays
    * exploded. None if this source can't (planner falls back to joins). */
  def entityScan(as: Seq[String]): Option[DataFrame] = None
  /** Pull support for `(pull ?e [...])` find elements: the catalog plus
    * attr → owning table. None if the source can't pull. */
  def pullCatalog: Option[graft.pull.Pull.Catalog] = None
  def tableOf(a: String): Option[String] = None
}

/** Quad-table source. `df` columns: e plus one value column per type family
  * (any subset of: v_str, v_num, v_dbl, v_ts, v_bool). `attrTypes` names
  * each attribute's value column.
  *
  * `df` is built on first use. `leaf(a, vcol)` may serve a single-family
  * attribute from its own `(eid, value)` frame (a resident
  * [[graft.http.GraftNode.db]] snapshot's per-attribute index), built on
  * its first [[attr]]; everything else reads `df`.
  *
  * @param refAttrs attributes whose values are entity ids — the pull
  *   join attributes (the reference marks these in doc refs; pull.clj
  *   follows any value that resolves to an entity). Pull over a quad
  *   source pivots the quads into one wide "entity" frame (single
  *   groupBy, map-side partial agg) and reuses the table compiler —
  *   schemaless pull without per-row driver fetches. */
final class QuadSource(quads: => DataFrame, val attrTypes: Map[String, String],
    val refAttrs: Set[String] = Set.empty,
    /** cardinality-many attributes: the entity pivot aggregates these as
      * sorted value ARRAYS (one quad row per element stays the scan/join
      * representation) so pull returns every element, not max-one. */
    val multiAttrs: Set[String] = Set.empty,
    /** see [[FactSource.cacheKey]] — set only for file-backed corpora */
    key: Option[String] = None,
    leaf: (String, String) => Option[DataFrame] = (_, _) => None) extends FactSource {
  lazy val df: DataFrame = quads
  private val leaves = scala.collection.concurrent.TrieMap.empty[String, Option[DataFrame]]
  override def cacheKey: Option[String] = key
  def attrs: Set[String] = attrTypes.keySet
  override def stringAttrs: Set[String] =
    // mixed-family attrs hold string-family rows too — searchable via
    // their tagged struct's `s` field (Planner.stringValues)
    attrTypes.collect {
      case (a, "v_str") => a
      case (a, t) if t == QuadSource.Mixed => a
    }.toSet
  /** A quad ROW with a null value is a nil-valued FACT (`{:foo nil}` is a
    * real document entry the reference matches with `[e :foo nil]` and
    * binds through vars, query_test.clj:3713 issue 1487 / :3497 issue
    * 885) — absence is no row at all, so nulls are kept here, unlike
    * [[TableSource.attr]] where NULL encodes absence. */
  def attr(a: String): DataFrame = {
    val vcol = attrTypes.getOrElse(a, throw new IllegalArgumentException(s"unknown attribute :$a"))
    if (vcol == QuadSource.Mixed) {
      val tagged = QuadSource.taggedValue(df)
      df.filter(col("a") === a).select(col("e").as("eid"), tagged.as("value"))
    } else leaves.getOrElseUpdate(a, leaf(a, vcol)).getOrElse(
      df.filter(col("a") === a).select(col("e").as("eid"), col(vcol).as("value")))
  }

  /** Single scan: string-family rows live in v_str regardless of whether
    * the attr is declared plain-string or mixed. */
  override lazy val stringQuads: Option[DataFrame] =
    if (!df.columns.contains("v_str") || stringAttrs.isEmpty) None
    else Some(df
      .filter(col("a").isin(stringAttrs.toSeq: _*) && col("v_str").isNotNull)
      .select(col("e").as("eid"), col("a"), col("v_str").as("value")))

  /** One row per entity, one column per attribute (scalar per (e, a):
    * latest/greatest value wins — crux docs are maps, index_store quads
    * here are a projection of them). */
  lazy val entityTable: DataFrame = {
    val as = attrTypes.toSeq.sortBy(_._1)
    val aggs = as.map { case (a, vcol) =>
      val v = if (vcol == QuadSource.Mixed) QuadSource.taggedValue(df) else col(vcol)
      if (multiAttrs(a))
        sort_array(collect_set(when(col("a") === a, v))).as(a)
      else max(when(col("a") === a, v)).as(a)
    }
    df.groupBy(col("e")).agg(aggs.head, aggs.tail: _*)
  }

  override def pullCatalog: Option[graft.pull.Pull.Catalog] =
    Some(new graft.pull.Pull.Catalog(
      _ => entityTable,
      Map("entity" -> graft.pull.Pull.PullTable(Seq("e"),
        attrTypes.keys.toSeq.sorted,
        refAttrs.map(_ -> "entity").toMap))))
  override def tableOf(a: String): Option[String] =
    if (attrTypes.contains(a)) Some("entity") else None
}

/** Typed-table source over the parquet catalog: one table per "document
  * type", attribute = column name (unique across tables in TPC-H style). */
final class TableSource(spark: SparkSession, load: String => DataFrame,
    tables: Map[String, TableSpec],
    pullCat: Option[graft.pull.Pull.Catalog] = None,
    /** see [[FactSource.cacheKey]] — set only for dir-backed catalogs */
    key: Option[String] = None) extends FactSource {
  override def cacheKey: Option[String] = key

  private val attrToTable: Map[String, String] =
    tables.flatMap { case (t, spec) => spec.cols.map(_ -> t) }

  override def pullCatalog: Option[graft.pull.Pull.Catalog] = pullCat
  override def tableOf(a: String): Option[String] = attrToTable.get(a)

  def attrs: Set[String] = attrToTable.keySet

  /** Per-table load guarded for the ALL-attribute scan paths only: a
    * schemaless whole-corpus search over a partially-broken catalog should
    * degrade (log + skip the table), not die — in r5 `wildcard-text-search`
    * died collaterally on a table the query never mentioned. Direct access
    * to a named attribute ([[attr]]/[[entityScan]]) still throws: there the
    * query asked for that table, and skipping would silently change
    * semantics. */
  private def loadableSchema(t: String): Option[org.apache.spark.sql.types.StructType] =
    try Some(load(t).schema)
    catch {
      case scala.util.control.NonFatal(e) =>
        TableSource.log.warn(
          s"skipping table '$t' in whole-corpus string scan: ${e.getMessage}")
        None
    }

  override lazy val stringAttrs: Set[String] = tables.keysIterator.flatMap { t =>
    loadableSchema(t).toSeq.flatMap { schema =>
      tables(t).cols.filter { c =>
        schema(c).dataType match {
          case org.apache.spark.sql.types.StringType => true
          case ArrayType(org.apache.spark.sql.types.StringType, _) => true
          case _ => false
        }
      }
    }
  }.toSet

  def attr(a: String): DataFrame = {
    val df = tableFor(a)
    explodeArrays(df.select(col("_eid").as("eid"), col(a).as("value")), Seq("value"))
      .filter(col("value").isNotNull)
  }

  /** ONE scan per table (not per attribute): each table's string columns
    * explode into (eid, a, value) rows via an inline array-of-structs —
    * a whole-corpus search touches every table exactly once. */
  override lazy val stringQuads: Option[DataFrame] = {
    val parts = tables.keysIterator.toSeq.sorted.flatMap { t =>
      loadableSchema(t).toSeq.flatMap { schema =>
      val strCols = tables(t).cols
        .filter(c => schema(c).dataType == StringType).toSeq.sorted
      val arrCols = tables(t).cols.filter { c =>
        schema(c).dataType match {
          case ArrayType(StringType, _) => true
          case _ => false
        }
      }.toSeq.sorted
      if (strCols.isEmpty && arrCols.isEmpty) Nil
      else {
        val df = keyed(t)
        val scalar =
          if (strCols.isEmpty) Nil
          else Seq(df
            .select(col("_eid").as("eid"),
              explode(array(strCols.map(c =>
                struct(lit(c).as("a"), col(c).as("value"))): _*)).as("__av"))
            .select(col("eid"), col("__av.a").as("a"), col("__av.value").as("value"))
            .filter(col("value").isNotNull))
        val arrays = arrCols.map(c => df
          .select(col("_eid").as("eid"), lit(c).as("a"), explode(col(c)).as("value"))
          .filter(col("value").isNotNull))
        scalar ++ arrays
      }
      }
    }
    parts.reduceOption(_ unionByName _)
  }

  override def entityScan(as: Seq[String]): Option[DataFrame] = {
    val ts = as.map(attrToTable.get).distinct
    if (ts.size != 1 || ts.head.isEmpty) None
    else {
      val df = tableFor(as.head)
      val sel = df.select((col("_eid").as("eid") +: as.distinct.map(col)): _*)
      Some(explodeArrays(sel, as.distinct))
    }
  }

  private def tableFor(a: String): DataFrame =
    keyed(attrToTable.getOrElse(a,
      throw new IllegalArgumentException(s"unknown attribute :$a")))

  private def keyed(t: String): DataFrame = {
    val spec = tables(t)
    val df = load(t)
    // eids are uniformly strings (crux ids are opaque, codec.clj:540-608);
    // single-key tables must not leak the raw column type
    df.withColumn("_eid",
      spec.key.map(col(_).cast("string")).reduceLeft((x, y) => concat(x, lit("|"), y)))
  }

  private def explodeArrays(df: DataFrame, cols: Seq[String]): DataFrame =
    cols.foldLeft(df) { (d, c) =>
      d.schema(c).dataType match {
        case _: ArrayType => d.withColumn(c, explode(col(c)))
        case _ => d
      }
    }
}

/** Tagged mixed-family value helpers — the codec's value-type-id order
  * (codec.clj:81-99) as a struct whose field order (t, b, n, d, s) makes
  * Spark's NATIVE struct comparison and ordering reproduce the
  * cross-family index order. Shared by the planner ([[Planner]] lifts
  * single-family sides of joins/comparisons) and the SPARQL front-end
  * (OPTIONAL binds `:crux.sparql/optional` alongside typed values). */
object Tagged {
  import org.apache.spark.sql.types._

  def isTagged(dt: DataType): Boolean = dt match {
    case st: StructType => st.fieldNames.sameElements(Array("t", "b", "n", "d", "s"))
    case _ => false
  }

  /** Lift a single-family column into the tagged representation. */
  def lift(c: Column, dt: DataType): Column = {
    val nb = lit(null).cast(BooleanType)
    val nn = lit(null).cast(DoubleType)
    val nd = lit(null).cast(TimestampType)
    val ns = lit(null).cast(StringType)
    val (t, b, n, d, s) = dt match {
      case NullType => // all-null binding column: nil in every family
        return struct(lit(null).cast(IntegerType).as("t"),
          nb.as("b"), nn.as("n"), nd.as("d"), ns.as("s"))
      case BooleanType => (4, c, nn, nd, ns)
      case _: NumericType => (5, nb, c.cast(DoubleType), nd, ns)
      case DateType | TimestampType | TimestampNTZType =>
        (7, nb, nn, c.cast(TimestampType), ns)
      case StringType => (8, nb, nn, nd, c)
      case other => throw new IllegalArgumentException(
        s"cannot lift $other into a mixed-family tagged value")
    }
    struct(when(c.isNotNull, lit(t)).cast(IntegerType).as("t"),
      b.as("b"), n.as("n"), d.as("d"), s.as("s"))
  }
}

object QuadSource {
  /** `attrTypes` marker for an attribute whose values span type FAMILIES
    * (crux is schemaless: `:foo 1` and `:foo "x"` can coexist across
    * docs). Such attrs bind a TAGGED struct value `(t, b, n, d, s)` whose
    * leading tag follows the codec's value-type-id order — bool(4) <
    * number(5) < date(7) < string(8), codec.clj:81-99 — so Spark's native
    * struct ordering/comparison reproduces the reference's cross-family
    * index order (codec_test.clj:94 `test-ordering-of-values`) with the
    * long/double families merged (SURVEY §2.2 deviation). */
  val Mixed = "mixed"

  private[datalog] def taggedValue(df: DataFrame): Column = {
    def f(name: String, t: org.apache.spark.sql.types.DataType): Column =
      if (df.columns.contains(name)) col(name).cast(t) else lit(null).cast(t)
    import org.apache.spark.sql.types._
    val b = f("v_bool", BooleanType)
    val n = coalesce(f("v_num", DoubleType), f("v_dbl", DoubleType))
    val d = f("v_ts", TimestampType)
    val s = f("v_str", StringType)
    val t = when(b.isNotNull, 4).when(n.isNotNull, 5)
      .when(d.isNotNull, 7).when(s.isNotNull, 8).cast(IntegerType)
    struct(t.as("t"), b.as("b"), n.as("n"), d.as("d"), s.as("s"))
  }
}

final case class TableSpec(key: Seq[String], cols: Set[String])

object TableSource {
  private[datalog] val log = org.slf4j.LoggerFactory.getLogger(classOf[TableSource])

  /** Catalog for the driver's TPC-H-ish parquet tables (FIXTURES.md §1). */
  def tpch(spark: SparkSession, dir: String): TableSource = {
    val specs = Map(
      "region" -> TableSpec(Seq("r_regionkey"), Set("r_regionkey", "r_name")),
      "nation" -> TableSpec(Seq("n_nationkey"), Set("n_nationkey", "n_name", "n_regionkey")),
      "customer" -> TableSpec(Seq("c_custkey"), Set("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")),
      "supplier" -> TableSpec(Seq("s_suppkey"), Set("s_suppkey", "s_name", "s_nationkey", "s_acctbal")),
      "part" -> TableSpec(Seq("p_partkey"), Set("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice")),
      "orders" -> TableSpec(Seq("o_orderkey"), Set("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority")),
      "lineitem" -> TableSpec(Seq("l_orderkey", "l_linenumber"),
        Set("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity", "l_extendedprice",
          "l_discount", "l_tax", "l_returnflag", "l_linestatus", "l_shipdate")),
      "documents" -> TableSpec(Seq("doc_id"), Set("doc_id", "text", "lang", "source", "n_chars")),
      "events" -> TableSpec(Seq("event_id"), Set("event_id", "ts", "user_id", "event_type", "value", "props")))
    new TableSource(spark, name => graft.sources.Tables.load(spark, dir, name), specs,
      pullCat = Some(graft.pull.Pull.tpch(spark, dir)),
      key = Some(s"tpch:$dir"))
  }
}
