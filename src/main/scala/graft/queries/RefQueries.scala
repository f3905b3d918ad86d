package graft.queries

import graft.Tables
import graft.operators.Normalize
import graft.sources._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Named pipeline queries (SURVEY §2 J) — the analogues of the
  * reference's queries.yml entries (reference:
  * src/o2agol/data/queries.yml), each running the full
  * source → transform → enrich pipeline through the library APIs.
  * Testdata mapping: `part` stands in for segments/buildings,
  * `customer`/`supplier` for the places/buildings dual-theme pair,
  * `events` for base infrastructure.
  */
object RefQueries {

  private val Date = "2026-01-01T00:00:00"

  /** J1: roads — theme=transportation select + roads normalization +
    * metadata (queries.yml `roads`).
    */
  def refRoads(t: Tables): DataFrame = {
    val raw = OvertureReader.read(t, ReadRequest("part",
      columns = Seq("p_partkey as id", "p_name as name", "p_brand as road_class", "p_type as road_type")))
    Normalize.addMetadata(
      Normalize.orderColumnsForPublish(Normalize.clipStrings(raw)),
      "AFG", "Afghanistan", Some("Road Network"), Date)
  }

  val refRoadsSql: String =
    """SELECT p_partkey AS id, p_name AS name, p_brand AS road_class,
      |  p_type AS road_type, '2026-01-01T00:00:00' AS processed_date,
      |  'AFG' AS country_iso3, 'Afghanistan' AS country_name,
      |  'Road Network' AS data_sector
      |FROM part""".stripMargin

  /** J2: buildings — class filter + numeric height/floors
    * (queries.yml `buildings`).
    */
  def refBuildings(t: Tables): DataFrame = {
    val raw = OvertureReader.read(t, ReadRequest("part",
      columns = Seq("p_partkey as id", "p_name as name", "p_brand as building_class",
        "p_retailprice as height", "p_size as num_floors"),
      filter = Some("p_brand IN ('Brand#13', 'Brand#20', 'Brand#25')")))
    val normalized = raw.select(
      col("id"), col("name"), col("building_class"),
      round(Normalize.safeNumeric(col("height"), "double"), 4).as("height_m"),
      Normalize.safeNumeric(col("num_floors"), "int").as("floors"))
    Normalize.addMetadata(
      Normalize.orderColumnsForPublish(normalized),
      "KEN", "Kenya", Some("Building Footprints"), Date)
  }

  val refBuildingsSql: String =
    """SELECT p_partkey AS id, p_name AS name, p_brand AS building_class,
      |  round(TRY_CAST(p_retailprice AS DOUBLE), 4) + 0 AS height_m,
      |  TRY_CAST(p_size AS INT) AS floors,
      |  '2026-01-01T00:00:00' AS processed_date,
      |  'KEN' AS country_iso3, 'Kenya' AS country_name,
      |  'Building Footprints' AS data_sector
      |FROM part WHERE p_brand IN ('Brand#13', 'Brand#20', 'Brand#25')""".stripMargin

  /** J3: education — dual-theme multilayer: places with a category
    * equality filter + buildings with a subtype filter, tagged and
    * unioned (queries.yml `education`: filter
    * `categories.primary = 'education'`, building_filter
    * `subtype = 'education'`).
    */
  def refEducation(t: Tables): DataFrame =
    OvertureReader.readMultilayer(t, Seq(
      "place" -> ReadRequest("customer",
        columns = Seq("c_custkey as id", "c_name as name"),
        filter = Some("c_mktsegment = 'FURNITURE'")),
      "building" -> ReadRequest("supplier",
        columns = Seq("s_suppkey as id", "s_name as name"),
        filter = Some("s_nationkey = '1'"))))
      .withColumnRenamed("source_type", "feature_type")

  val refEducationSql: String =
    """SELECT c_custkey AS id, c_name AS name, 'place' AS feature_type
      |FROM customer WHERE c_mktsegment = 'FURNITURE'
      |UNION ALL
      |SELECT s_suppkey AS id, s_name AS name, 'building' AS feature_type
      |FROM supplier WHERE s_nationkey = 1""".stripMargin

  /** J4: markets — IN-list category filter multilayer
    * (queries.yml `markets`: `categories.primary IN (...)`,
    * building subtype IN (...)).
    */
  def refMarkets(t: Tables): DataFrame =
    OvertureReader.readMultilayer(t, Seq(
      "place" -> ReadRequest("customer",
        columns = Seq("c_custkey as id", "c_name as name"),
        filter = Some("c_mktsegment IN ('AUTOMOBILE', 'HOUSEHOLD')")),
      "building" -> ReadRequest("supplier",
        columns = Seq("s_suppkey as id", "s_name as name"),
        filter = Some("s_nationkey IN ('2', '3')"))))
      .withColumnRenamed("source_type", "feature_type")

  val refMarketsSql: String =
    """SELECT c_custkey AS id, c_name AS name, 'place' AS feature_type
      |FROM customer WHERE c_mktsegment IN ('AUTOMOBILE', 'HOUSEHOLD')
      |UNION ALL
      |SELECT s_suppkey AS id, s_name AS name, 'building' AS feature_type
      |FROM supplier WHERE s_nationkey IN (2, 3)""".stripMargin

  /** J5: power — equality filter + geometry_split
    * (queries.yml `power`: `subtype = 'power'`,
    * geometry_split: true).
    */
  def refPower(t: Tables): DataFrame = {
    val filtered = OvertureReader.read(t, ReadRequest("events",
      columns = Seq("event_id as id", "event_type", "user_id"),
      filter = Some("event_type IN ('error', 'signup', 'purchase')")))
    OvertureReader.geometrySplit(filtered, "event_type",
      Map("points" -> Seq("error"), "lines" -> Seq("signup"), "polygons" -> Seq("purchase")))
      .select(col("id"), col("geometry_family"))
  }

  val refPowerSql: String =
    """SELECT event_id AS id, CASE
      |    WHEN event_type = 'error' THEN 'points'
      |    WHEN event_type = 'signup' THEN 'lines'
      |    WHEN event_type = 'purchase' THEN 'polygons'
      |    ELSE 'other' END AS geometry_family
      |FROM events WHERE event_type IN ('error', 'signup', 'purchase')""".stripMargin

  /** J6: health — the second dual-theme sector query (queries.yml
    * `health`: places filter `categories.primary =
    * 'health_and_medical'`, building_filter `subtype = 'medical'`)
    * — same multilayer shape as J3 with its own filter pair and
    * sector metadata.
    */
  def refHealth(t: Tables): DataFrame = {
    val layers = OvertureReader.readMultilayer(t, Seq(
      "place" -> ReadRequest("customer",
        columns = Seq("c_custkey as id", "c_name as name"),
        filter = Some("c_mktsegment = 'MACHINERY'")),
      "building" -> ReadRequest("supplier",
        columns = Seq("s_suppkey as id", "s_name as name"),
        filter = Some("s_nationkey = '4'"))))
      .withColumnRenamed("source_type", "feature_type")
    Normalize.addMetadata(
      Normalize.orderColumnsForPublish(layers),
      "NPL", "Nepal", Some("Health Facilities"), Date)
  }

  val refHealthSql: String =
    """SELECT * FROM (
      |  SELECT c_custkey AS id, c_name AS name, 'place' AS feature_type,
      |    '2026-01-01T00:00:00' AS processed_date, 'NPL' AS country_iso3,
      |    'Nepal' AS country_name, 'Health Facilities' AS data_sector
      |  FROM customer WHERE c_mktsegment = 'MACHINERY'
      |  UNION ALL
      |  SELECT s_suppkey AS id, s_name AS name, 'building' AS feature_type,
      |    '2026-01-01T00:00:00' AS processed_date, 'NPL' AS country_iso3,
      |    'Nepal' AS country_name, 'Health Facilities' AS data_sector
      |  FROM supplier WHERE s_nationkey = 4) x""".stripMargin

  /** J7: places — the unfiltered whole-theme select (queries.yml
    * `places`: theme=places, type=place, NO filter — "comprehensive
    * points of interest"), normalized and metadata-stamped like
    * every published sector.
    */
  def refPlaces(t: Tables): DataFrame = {
    val raw = OvertureReader.read(t, ReadRequest("customer",
      columns = Seq("c_custkey as id", "c_name as name",
        "c_mktsegment as category")))
    Normalize.addMetadata(
      Normalize.orderColumnsForPublish(Normalize.clipStrings(raw)),
      "BGD", "Bangladesh", Some("Points of Interest"), Date)
  }

  val refPlacesSql: String =
    """SELECT c_custkey AS id, c_name AS name, c_mktsegment AS category,
      |  '2026-01-01T00:00:00' AS processed_date,
      |  'BGD' AS country_iso3, 'Bangladesh' AS country_name,
      |  'Points of Interest' AS data_sector
      |FROM customer""".stripMargin
}
