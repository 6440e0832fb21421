package graft.cube

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.types._

/** Column-name normalization — part of the reference's observable API
  * surface: every result column is renamed `replace(' ', '_').lower()`
  * (reference `oec.py:24`, `oec.py:64`; e.g. "Country ID" -> "country_id",
  * "Trade Value" -> "trade_value").
  */
object Normalize {
  def norm(name: String): String = name.replace(" ", "_").toLowerCase
  /** Apply the rename contract to every column of a result. */
  def apply(df: DataFrame): DataFrame = df.toDF(df.columns.map(norm): _*)
}

/** A join edge in a cube's star/snowflake graph.
  *
  * The reference's drilldowns ("Year", "Subnat Geography", "Country", ...)
  * imply server-side dimension resolution against the fact table
  * (`oec.py:34`, `oec.py:53-55`); here the joins are explicit and declared.
  *
  * @param alias       unique name of this dim node in the graph
  * @param table       physical parquet table name
  * @param parent      alias of the node joined to ("fact" for the fact table)
  * @param parentKey   join column on the parent side
  * @param key         join column on this dim (post-rename)
  * @param renames     column renames applied at load (lets the same physical
  *                    table appear twice, e.g. customer-nation vs
  *                    supplier-nation)
  * @param broadcast   hint-broadcast this dim. Only set for dims whose
  *                    cardinality is FIXED (nation=25, region=5) and thus
  *                    broadcast-safe at any data scale; scale-variant dims
  *                    (orders, customer, part, supplier) are left to
  *                    Catalyst/AQE, which auto-broadcasts below
  *                    `autoBroadcastJoinThreshold` and falls back to
  *                    shuffle joins at 100 TB scale.
  */
case class DimJoin(
    alias: String,
    table: String,
    parent: String,
    parentKey: String,
    key: String,
    renames: Map[String, String] = Map.empty,
    broadcast: Boolean = false)

/** A queryable dimension level (reference drilldown / cut target,
  * `oec.py:34`, `oec.py:45-48`).
  *
  * @param name        public level name, space-separated ("Nation ID")
  * @param dim         alias of the dim node the level lives on ("fact" for
  *                    degenerate fact-table levels)
  * @param expr        value expression over the joined star
  * @param dataType    type cut strings are coerced to — the reference's cuts
  *                    are stringly typed even for numeric levels
  *                    (`oec.py:31`: {'Year': '2020'})
  * @param memberLabel optional label expression for member enumeration
  *                    (`oec.py:12-25` returns (ID, Label) per level)
  * @param rangePrune  optional companion predicate for RANGE cuts on a
  *                    derived level: given the coerced (lo, hi) literals,
  *                    return an extra predicate over RAW fact columns that
  *                    is a SUPERSET of the level predicate (never
  *                    narrower). A range cut on `date_trunc("hour", ts)`
  *                    cannot reach the parquet scan (expression over a
  *                    column), so calendar levels supply `ts >= lo AND
  *                    ts < hi + step`: Catalyst pushes THAT into
  *                    PushedFilters (row-group + partition pruning — the
  *                    access pattern that matters on a 100 TB event
  *                    store), while the exact level predicate still
  *                    applies on top. Plan-asserted in PlanShapeSpec.
  */
case class Level(
    name: String,
    dim: String,
    expr: Column,
    dataType: DataType,
    memberLabel: Option[Column] = None,
    rangePrune: Option[(Column, Column) => Column] = None)

/** An aggregatable measure (reference `oec.py:35`, `oec.py:55`).
  *
  * @param agg  complete aggregate expression (e.g. sum of a fact column).
  *             Double-summing measures are rounded so results are
  *             reproducible across partial-aggregation orders.
  * @param dims dim aliases the expression needs joined (usually none —
  *             measures live on the fact)
  */
case class MeasureDef(name: String, agg: Column, dims: Set[String] = Set.empty)

/** A cube: named fact table + dimension graph + levels + measures.
  * The reference addresses cubes by string id (`oec.py:16`, `oec.py:53`);
  * here the schema is declared rather than remote/opaque.
  */
case class CubeDef(
    name: String,
    fact: String,
    joins: Seq[DimJoin],
    levels: Seq[Level],
    measures: Seq[MeasureDef]) {

  private val joinByAlias: Map[String, DimJoin] = joins.map(j => j.alias -> j).toMap
  private val levelByName: Map[String, Level] = levels.map(l => l.name -> l).toMap
  private val measureByName: Map[String, MeasureDef] = measures.map(m => m.name -> m).toMap

  def level(n: String): Level =
    levelByName.getOrElse(n, throw new IllegalArgumentException(
      s"cube '$name' has no level '$n'; known: ${levels.map(_.name).mkString(", ")}"))

  def measure(n: String): MeasureDef =
    measureByName.getOrElse(n, throw new IllegalArgumentException(
      s"cube '$name' has no measure '$n'; known: ${measures.map(_.name).mkString(", ")}"))

  /** The join edge of dim `alias`. */
  def dim(alias: String): DimJoin = joinByAlias(alias)

  /** Transitive closure of dim aliases required to evaluate the given
    * aliases from `root` ("fact", or a dim alias when the join starts at
    * that dim) — join pruning: a query touching only `root`'s columns
    * joins nothing at all.
    */
  def requiredAliases(root: String, roots: Set[String]): Seq[DimJoin] = {
    @annotation.tailrec
    def close(need: Set[String]): Set[String] = {
      val more = need.flatMap(a => joinByAlias.get(a).map(_.parent)) - root
      if (more.subsetOf(need)) need else close(need ++ more)
    }
    val needed = close(roots - root)
    // preserve declaration order: parents are declared before children
    joins.filter(j => needed.contains(j.alias))
  }
}

/** A logical aggregation query — the Spark-native analog of the reference's
  * query-string "plan" (`oec.py:53-55`: cube, drilldowns, measures + cut
  * params merged at `oec.py:45-48`). Immutable by construction, which also
  * discharges the reference's defensive `cut.copy()` (`oec.py:48`).
  *
  * @param cuts level -> member values (strings, coerced to level type);
  *             multi-member cut = IN-list
  * @param rangeCuts level -> inclusive (lo, hi) bounds, same stringly-typed
  *                  coercion (theta predicates — absent in the reference,
  *                  SURVEY §2.2, provided as engine surface)
  */
case class CubeQuery(
    cube: String,
    drilldowns: Seq[String],
    measures: Seq[String],
    cuts: Map[String, Seq[String]] = Map.empty,
    rangeCuts: Map[String, (String, String)] = Map.empty)
