package graft.sources

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic TPC-DS store-channel corpus (reference
  * sdks/java/testing/tpcds — schema from the TPC-DS spec the reference
  * ships queries for). No dsdgen exists in this environment, so the
  * tables are generated once from `spark.range` + xxhash64-derived
  * attributes and persisted under `dir` below; BOTH the Spark queries
  * and the DuckDB oracles read the SAME parquet files, so correctness
  * compares engine behavior on identical bytes, not generator parity.
  *
  * Value domains are chosen so every ported query's literal filters
  * (i_manufact_id=436, i_manager_id in {1,36}, d_moy=12, d_dow=1,
  * s_store_name='ese', hd_dep_count in {0,1,3,8}, t_hour in 8..12,
  * s_number_employees in 200..295, category Jewelry/Sports/Books,
  * d_month_seq 1212..1223) select non-empty, <LIMIT-sized answers.
  * Money columns are DECIMAL(7,2) end to end: decimal sums are exact and
  * order-independent, so query results are hash-stable (final sums cast
  * to DOUBLE for the driver, same as q03).
  */
object TpcDs {

  /** Corpus scale multiplier (SPARK_GRAFT_TPCDS_SCALE, default 1). The
    * fact tables and the customer population scale linearly; items and
    * the other dimensions stay fixed — TPC-DS's own shape (facts ∝ SF,
    * dimensions sub-linear), and exactly what the 10x scale-proof needs:
    * fact shuffles grow 10x while every dimension stays broadcastable.
    * Each scale generates into its own versioned directory. */
  val scale: Int = sys.env.getOrElse("SPARK_GRAFT_TPCDS_SCALE", "1").toInt

  // under the working directory: each checkout reads its own generated data
  private val base = new File("target/tpcds/v21").getAbsolutePath
  def dirFor(s: Int): String = if (s == 1) base else s"$base-x$s"
  val dir: String = dirFor(scale)

  val tables = Seq("store_sales", "date_dim", "time_dim", "item", "store",
    "household_demographics", "customer", "reason", "customer_address",
    "customer_demographics", "promotion", "store_returns",
    "catalog_sales", "catalog_returns", "web_sales", "web_returns",
    "inventory", "warehouse", "call_center", "ship_mode", "web_site",
    "web_page", "catalog_page", "income_band")

  private val SalesRows = 1000000L * scale
  private val CatalogRows = 500000L * scale
  private val WebRows = 400000L * scale
  private val Items = 2000L
  private val Customers = 5000L * scale
  private val Dates = 1826L // 1998-01-01 .. 2002-12-31
  private val Stores = 12L
  private val HouseholdDemos = 720L
  private val Addresses = 1000L
  private val CustomerDemos = 1000L
  private val Promotions = 30L
  private val Warehouses = 4L
  private val CallCenters = 4L
  private val ShipModes = 8L
  private val WebSites = 4L
  private val WebPages = 20L
  private val CatalogPages = 40L
  private val IncomeBands = 20L
  // q23/q14's "frequent items / best customers" CTEs need real skew: 20%
  // of fact lines draw from the top-50 items / top-250 customers, the
  // rest stay uniform (every item/customer still appears). The branch
  // hash uses its OWN seed — reusing the value hash would correlate the
  // branch with the drawn id (h≡0 mod 5 constrains h mod 50).
  private val HotItems = 50L
  private val HotCustomers = 250L
  private def skewed(base: org.apache.spark.sql.Column, branchSeed: Int,
      valueSeed: Int, hot: Long, domain: Long) = {
    when(pmod(h(base, branchSeed), lit(5L)) === 0,
      pmod(h(base, valueSeed), lit(hot)) + 1)
      .otherwise(pmod(h(base, valueSeed), lit(domain)) + 1)
  }

  private def h(c: org.apache.spark.sql.Column, seed: Int) =
    xxhash64(c, lit(seed))

  private def gen(spark: SparkSession): Map[String, DataFrame] = {
    val ss = spark.range(SalesRows)
      .withColumn("ticket", col("id") / 3 cast "long")
      .select(
        col("ticket").as("ss_ticket_number"),
        skewed(col("ticket"), 138, 1, HotCustomers, Customers).as("ss_customer_sk"),
        // ~2% null (q76's store-channel null-audit column)
        when(pmod(h(col("ticket"), 77), lit(50L)) === 0, lit(null))
          .otherwise(pmod(h(col("ticket"), 2), lit(1000L)) + 1).as("ss_addr_sk"),
        (pmod(h(col("ticket"), 3), lit(Dates)) + 1).as("ss_sold_date_sk"),
        pmod(h(col("ticket"), 4), lit(86400L)).as("ss_sold_time_sk"),
        // ~2% of tickets have no household-demographics link (q44's
        // baseline population is exactly these null-hdemo rows)
        when(pmod(h(col("ticket"), 15), lit(50L)) === 0, lit(null))
          .otherwise(pmod(h(col("ticket"), 5), lit(HouseholdDemos)) + 1)
          .as("ss_hdemo_sk"),
        (pmod(h(col("ticket"), 6), lit(Stores)) + 1).as("ss_store_sk"),
        skewed(col("id"), 137, 7, HotItems, Items).as("ss_item_sk"),
        (pmod(h(col("id"), 8), lit(30L)) + 1).cast("int").as("ss_quantity"),
        col("id"))
      .withColumn("ss_sales_price", // heavy-tailed by item so q65's 10%-of-avg filter selects
        round(pow(pmod(col("ss_item_sk"), lit(300L)) + 1, 2) / 100.0, 2).cast("decimal(7,2)"))
      .withColumn("ss_ext_sales_price",
        (col("ss_sales_price") * col("ss_quantity")).cast("decimal(7,2)"))
      .withColumn("ss_coupon_amt",
        (pmod(h(col("id"), 9), lit(500L)) / 100.0).cast("decimal(7,2)"))
      .withColumn("ss_ext_discount_amt",
        (pmod(h(col("id"), 21), lit(10000L)) / 100.0).cast("decimal(7,2)"))
      // wide profit domain (-200..600) so q13/q48's net-profit bands
      // (50..250, 100..200, 150..300, 0..2000) each select rows
      .withColumn("ss_net_profit",
        ((pmod(h(col("id"), 10), lit(80000L)) - 20000) / 100.0).cast("decimal(7,2)"))
      .withColumn("ss_cdemo_sk", (pmod(h(col("id"), 23), lit(CustomerDemos)) + 1))
      .withColumn("ss_promo_sk", (pmod(h(col("id"), 22), lit(Promotions)) + 1))
      .withColumn("ss_ext_tax",
        (pmod(h(col("id"), 24), lit(2000L)) / 100.0).cast("decimal(7,2)"))
      .withColumn("ss_net_paid",
        (pmod(h(col("id"), 44), lit(30000L)) / 100.0).cast("decimal(7,2)"))
      .withColumn("ss_list_price",
        (pmod(h(col("id"), 16), lit(20000L)) / 100.0).cast("decimal(7,2)"))
      .withColumn("ss_wholesale_cost",
        (pmod(h(col("id"), 17), lit(10000L)) / 100.0).cast("decimal(7,2)"))
      .withColumn("ss_ext_list_price",
        (col("ss_list_price") * col("ss_quantity")).cast("decimal(7,2)"))
      .withColumn("ss_ext_wholesale_cost",
        (col("ss_wholesale_cost") * col("ss_quantity")).cast("decimal(7,2)"))
      .drop("id")

    val dates = spark.range(Dates).select(
      (col("id") + 1).as("d_date_sk"),
      date_add(lit("1998-01-01").cast("date"), col("id").cast("int")).as("d_date"))
      .withColumn("d_year", year(col("d_date")))
      .withColumn("d_moy", month(col("d_date")))
      .withColumn("d_dom", dayofmonth(col("d_date")))
      .withColumn("d_dow", dayofweek(col("d_date")) - 1) // 0 = Sunday
      .withColumn("d_day_name", date_format(col("d_date"), "EEEE"))
      .withColumn("d_week_seq", (floor((col("d_date_sk") - 1) / 7) + 1).cast("int"))
      .withColumn("d_month_seq", ((col("d_year") - 1900) * 12 + col("d_moy") - 1).cast("int"))
      .withColumn("d_qoy", quarter(col("d_date")))
      .withColumn("d_quarter_name", concat(col("d_year"), lit("Q"), quarter(col("d_date"))))

    val times = spark.range(86400L).select(
      col("id").as("t_time_sk"),
      col("id").cast("int").as("t_time"),
      (col("id") / 3600).cast("int").as("t_hour"),
      ((col("id") % 3600) / 60).cast("int").as("t_minute"))
      .withColumn("t_meal_time",
        when(col("t_hour").between(6, 8), "breakfast")
          .when(col("t_hour").between(11, 13), "lunch")
          .when(col("t_hour").between(17, 19), "dinner"))

    val item = spark.range(Items).select((col("id") + 1).as("i_item_sk"))
      .withColumn("i_item_id", concat(lit("ITEM_"), lpad(col("i_item_sk"), 6, "0")))
      .withColumn("i_item_desc", concat(lit("item description "), col("i_item_sk")))
      // hash-derived so a manufact/manager filter selects items with
      // uncorrelated brands/categories (modulo would alias them)
      .withColumn("i_manufact_id", pmod(h(col("i_item_sk"), 13), lit(1000L)).cast("int"))
      .withColumn("i_manager_id", pmod(h(col("i_item_sk"), 14), lit(100L)).cast("int"))
      .withColumn("i_brand_id", (pmod(col("i_item_sk"), lit(50L)) + 1).cast("int"))
      .withColumn("i_brand", concat(lit("brand#"), col("i_brand_id")))
      .withColumn("i_class_id", (pmod(col("i_item_sk"), lit(25L)) + 1).cast("int"))
      // class 16 intersects the Jewelry category residue (sk ≡ 40 mod 50,
      // 40 items) and is named 'consignment' for q54's literal filter;
      // no other ported query's class IN-list references class_16
      .withColumn("i_class",
        when(col("i_class_id") === 16, "consignment")
          .otherwise(concat(lit("class_"), col("i_class_id"))))
      .withColumn("i_category_id", (pmod(col("i_item_sk"), lit(10L)) + 1).cast("int"))
      .withColumn("i_category", element_at(
        array(Seq("Jewelry", "Sports", "Books", "Home", "Electronics",
          "Music", "Men", "Women", "Children", "Shoes").map(lit): _*),
        col("i_category_id")))
      .withColumn("i_current_price",
        round(pmod(h(col("i_item_sk"), 11), lit(9000L)) / 100.0 + 1, 2).cast("decimal(7,2)"))
      .withColumn("i_wholesale_cost",
        round(pmod(h(col("i_item_sk"), 12), lit(5000L)) / 100.0 + 1, 2).cast("decimal(7,2)"))
      .withColumn("i_product_name", concat(lit("product_"), col("i_item_sk")))
      // coarse manufacturer label (50 groups) so q41's correlated
      // per-manufacturer existence check has plausible density
      .withColumn("i_manufact",
        concat(lit("manufact_"), pmod(col("i_manufact_id"), lit(50))))
      .withColumn("i_color", element_at(
        array(Seq("orchid", "papaya", "burlywood", "navy", "bisque", "azure",
          "chocolate", "cornflower", "salmon", "midnight", "snow", "steel",
          "maroon", "ivory", "khaki", "sienna", "pale", "chiffon").map(lit): _*),
        (pmod(h(col("i_item_sk"), 18), lit(18L)) + 1).cast("int")))
      .withColumn("i_units", element_at(
        array(Seq("Pound", "Lb", "Bundle", "Each", "N/A", "Tsp", "Bunch",
          "Gross").map(lit): _*),
        (pmod(h(col("i_item_sk"), 19), lit(8L)) + 1).cast("int")))
      .withColumn("i_size", element_at(
        array(Seq("petite", "medium", "N/A", "extra large", "small",
          "large").map(lit): _*),
        (pmod(h(col("i_item_sk"), 20), lit(6L)) + 1).cast("int")))

    val store = spark.range(Stores).select((col("id") + 1).as("s_store_sk"))
      .withColumn("s_store_id", concat(lit("S_"), lpad(col("s_store_sk"), 3, "0")))
      .withColumn("s_store_name",
        when(col("s_store_sk") === 1, "ese")
          .otherwise(concat(lit("store_"), col("s_store_sk"))))
      .withColumn("s_county", lit("Williamson County"))
      .withColumn("s_company_id", pmod(col("s_store_sk"), lit(3L)).cast("int"))
      .withColumn("s_street_number", (col("s_store_sk") * 100 + 1).cast("string"))
      .withColumn("s_street_name", concat(lit("Main St "), col("s_store_sk")))
      .withColumn("s_street_type", lit("Blvd"))
      .withColumn("s_suite_number", concat(lit("Suite "), pmod(col("s_store_sk"), lit(9L))))
      // two of the five cities are the names q46/q68's literals select
      .withColumn("s_city", element_at(
        array(Seq("Midway", "Fairview", "City_2", "City_3", "City_4").map(lit): _*),
        (pmod(col("s_store_sk"), lit(5L)) + 1).cast("int")))
      .withColumn("s_market_id",
        when(pmod(col("s_store_sk"), lit(4L)) === 0, 8)
          .otherwise(pmod(h(col("s_store_sk"), 45), lit(7L)) + 1).cast("int"))
      // fixed zips: the first five stores' 2-char prefixes match the
      // pooled customer-address zips ('89436','30868','65085','22977',
      // '83927'), which is what q8's substring(s_zip,1,2) join selects on.
      // The market-8 stores (sk 4, 8, 12 — s_market_id=8 above) carry
      // pooled zips VERBATIM so q24's `s_zip = ca_zip` equality join is
      // non-empty (sk 4 keeps its '22' prefix for q8's pairing).
      .withColumn("s_zip", element_at(
        array(Seq("89401", "30802", "65091", "22977", "83900", "10501",
          "45866", "30868", "28210", "14609", "77401", "65085").map(lit): _*),
        col("s_store_sk").cast("int")))
      .withColumn("s_number_employees", (lit(150) + col("s_store_sk") * 10).cast("int"))
      .withColumn("s_gmt_offset", element_at(
        array(Seq(-5, -6, -7, -8).map(v => lit(v)): _*),
        (pmod(col("s_store_sk"), lit(4L)) + 1).cast("int")).cast("int"))
      .withColumn("s_company_name",
        concat(lit("company_"), pmod(col("s_store_sk"), lit(3L))))
      // 4 states × 3 stores; stores 1-3 are TN so q36's s_state='TN'
      // filter keeps the 'ese' store and q70's top-5-state subquery
      // admits every state (each rank() partition is a single state)
      .withColumn("s_state", element_at(
        array(Seq("TN", "TN", "TN", "SC", "SC", "SC", "AL", "AL", "AL",
          "GA", "GA", "GA").map(lit): _*),
        col("s_store_sk").cast("int")))

    val hd = spark.range(HouseholdDemos).select((col("id") + 1).as("hd_demo_sk"))
      .withColumn("hd_dep_count", pmod(col("hd_demo_sk"), lit(10L)).cast("int"))
      .withColumn("hd_vehicle_count", pmod(col("hd_demo_sk"), lit(5L)).cast("int"))
      .withColumn("hd_buy_potential", element_at(
        array(Seq(">10000", "Unknown", "1001-5000", "501-1000").map(lit): _*),
        (pmod(col("hd_demo_sk"), lit(4L)) + 1).cast("int")))
      .withColumn("hd_income_band_sk", pmod(col("hd_demo_sk"), lit(IncomeBands)) + 1)

    val customer = spark.range(Customers).select((col("id") + 1).as("c_customer_sk"))
      .withColumn("c_first_name", concat(lit("First"), col("c_customer_sk")))
      .withColumn("c_last_name", concat(lit("Last"), lpad(col("c_customer_sk"), 6, "0")))
      .withColumn("c_salutation", element_at(
        array(Seq("Mr.", "Mrs.", "Ms.", "Dr.").map(lit): _*),
        (pmod(col("c_customer_sk"), lit(4L)) + 1).cast("int")))
      .withColumn("c_preferred_cust_flag",
        element_at(array(lit("Y"), lit("N")),
          (pmod(col("c_customer_sk"), lit(2L)) + 1).cast("int")))
      .withColumn("c_current_addr_sk", pmod(h(col("c_customer_sk"), 25), lit(Addresses)) + 1)
      .withColumn("c_customer_id", concat(lit("C_"), lpad(col("c_customer_sk"), 6, "0")))
      .withColumn("c_birth_country",
        when(pmod(h(col("c_customer_sk"), 46), lit(5L)) < 4, "UNITED STATES")
          .otherwise("CANADA"))
      .withColumn("c_current_cdemo_sk",
        pmod(h(col("c_customer_sk"), 48), lit(CustomerDemos)) + 1)
      .withColumn("c_current_hdemo_sk",
        pmod(h(col("c_customer_sk"), 120), lit(HouseholdDemos)) + 1)
      .withColumn("c_birth_year",
        (lit(1930) + pmod(h(col("c_customer_sk"), 121), lit(63L))).cast("int"))
      .withColumn("c_birth_month",
        (pmod(h(col("c_customer_sk"), 122), lit(12L)) + 1).cast("int"))
      .withColumn("c_birth_day",
        (pmod(h(col("c_customer_sk"), 124), lit(28L)) + 1).cast("int"))
      .withColumn("c_last_review_date_sk",
        pmod(h(col("c_customer_sk"), 125), lit(Dates)) + 1)
      .withColumn("c_first_sales_date_sk",
        pmod(h(col("c_customer_sk"), 145), lit(Dates)) + 1)
      .withColumn("c_first_shipto_date_sk",
        pmod(h(col("c_customer_sk"), 146), lit(Dates)) + 1)
      .withColumn("c_login", concat(lit("login_"), col("c_customer_sk")))
      .withColumn("c_email_address",
        concat(lit("First"), col("c_customer_sk"), lit("@example.com")))

    val address = spark.range(Addresses).select((col("id") + 1).as("ca_address_sk"))
      .withColumn("ca_city", element_at(
        array((Seq("Midway", "Fairview", "Hopewell") ++
          (3 until 20).map(i => s"AddrCity_$i")).map(lit): _*),
        (pmod(h(col("ca_address_sk"), 27), lit(20L)) + 1).cast("int")))
      .withColumn("ca_state", element_at(
        array(Seq("CO", "IL", "MN", "OH", "MT", "NM", "TX", "MO", "MI",
          "KY", "GA", "OR", "IN", "WI", "WV", "CA").map(lit): _*),
        (pmod(h(col("ca_address_sk"), 28), lit(16L)) + 1).cast("int")))
      .withColumn("ca_country", lit("United States"))
      .withColumn("ca_county", element_at(
        array(Seq("Williamson County", "Walker County", "Ziebach County",
          "Levy County", "Huron County").map(lit): _*),
        (pmod(h(col("ca_address_sk"), 47), lit(5L)) + 1).cast("int")))
      // ~5% of addresses pool into five fixed zips from q8's 400-zip
      // IN-list, giving each pooled zip the >10 preferred customers its
      // HAVING clause demands; the rest stay uniform 5-digit
      .withColumn("ca_zip",
        when(pmod(h(col("ca_address_sk"), 150), lit(20L)) === 0,
          element_at(array(Seq("89436", "30868", "65085", "22977",
            "83927").map(lit): _*),
            (pmod(h(col("ca_address_sk"), 151), lit(5L)) + 1).cast("int")))
          .otherwise(lpad(pmod(h(col("ca_address_sk"), 29), lit(100000L)), 5, "0")))
      .withColumn("ca_street_number", (pmod(h(col("ca_address_sk"), 126), lit(999L)) + 1).cast("string"))
      .withColumn("ca_street_name", concat(lit("Street "), pmod(h(col("ca_address_sk"), 127), lit(50L))))
      .withColumn("ca_street_type", element_at(
        array(Seq("Ave", "Blvd", "Ct", "Dr", "Ln", "Rd", "St", "Way").map(lit): _*),
        (pmod(h(col("ca_address_sk"), 128), lit(8L)) + 1).cast("int")))
      .withColumn("ca_suite_number", concat(lit("Suite "), pmod(h(col("ca_address_sk"), 129), lit(100L))))
      .withColumn("ca_location_type", element_at(
        array(Seq("apartment", "condo", "single family").map(lit): _*),
        (pmod(h(col("ca_address_sk"), 130), lit(3L)) + 1).cast("int")))
      // -7 is over-weighted (2/5): it is the offset q91's filter selects,
      // stacked on top of its 1/20 demographics × 1/4 buy-potential cuts
      .withColumn("ca_gmt_offset", element_at(
        array(Seq(-5, -6, -7, -7, -8).map(v => lit(v)): _*),
        (pmod(h(col("ca_address_sk"), 41), lit(5L)) + 1).cast("int")).cast("int"))

    val cdemo = spark.range(CustomerDemos).select((col("id") + 1).as("cd_demo_sk"))
      .withColumn("cd_gender", element_at(array(lit("M"), lit("F")),
        (pmod(h(col("cd_demo_sk"), 30), lit(2L)) + 1).cast("int")))
      // M/W/U and Primary/Unknown/Advanced are over-weighted: the paired
      // marital×education disjuncts of q85/q91/q13-style filters select
      // exactly those combos, and uniform 1/5 × 1/7 densities leave them
      // empty at this scale (q91's M×Unknown and W×Advanced disjuncts
      // additionally pass hd_buy_potential and ca_gmt_offset filters, so
      // each needs joint density ≥ ~1/20 to stay non-vacuous)
      .withColumn("cd_marital_status", element_at(
        array(Seq("M", "M", "S", "D", "W", "W", "U", "U").map(lit): _*),
        (pmod(h(col("cd_demo_sk"), 31), lit(8L)) + 1).cast("int")))
      .withColumn("cd_education_status", element_at(
        array(Seq("Primary", "Primary", "Secondary", "2 yr Degree",
          "4 yr Degree", "Unknown", "Advanced Degree",
          "Advanced Degree", "Unknown", "College").map(lit): _*),
        (pmod(h(col("cd_demo_sk"), 32), lit(10L)) + 1).cast("int")))
      .withColumn("cd_purchase_estimate",
        ((pmod(h(col("cd_demo_sk"), 49), lit(20L)) + 1) * 500).cast("int"))
      .withColumn("cd_credit_rating", element_at(
        array(Seq("Low Risk", "Good", "High Risk", "Unknown").map(lit): _*),
        (pmod(h(col("cd_demo_sk"), 76), lit(4L)) + 1).cast("int")))
      .withColumn("cd_dep_count", pmod(h(col("cd_demo_sk"), 116), lit(7L)).cast("int"))
      .withColumn("cd_dep_employed_count", pmod(h(col("cd_demo_sk"), 117), lit(7L)).cast("int"))
      .withColumn("cd_dep_college_count", pmod(h(col("cd_demo_sk"), 118), lit(7L)).cast("int"))

    val promotion = spark.range(Promotions).select((col("id") + 1).as("p_promo_sk"))
      .withColumn("p_promo_id", concat(lit("P_"), lpad(col("p_promo_sk"), 3, "0")))
      .withColumn("p_channel_email",
        when(pmod(h(col("p_promo_sk"), 33), lit(4L)) === 0, "Y").otherwise("N"))
      .withColumn("p_channel_event",
        when(pmod(h(col("p_promo_sk"), 34), lit(4L)) === 0, "Y").otherwise("N"))
      .withColumn("p_channel_dmail",
        when(pmod(h(col("p_promo_sk"), 42), lit(4L)) === 0, "Y").otherwise("N"))
      .withColumn("p_channel_tv",
        when(pmod(h(col("p_promo_sk"), 43), lit(4L)) === 0, "Y").otherwise("N"))

    // ~10% of sale lines are returned 1-150 days later (capped at the
    // calendar end); the (ticket, item) grain matches store_sales so
    // q50's sold-to-returned fact-fact join has a real key
    val sreturns = ss
      .filter(pmod(xxhash64(col("ss_ticket_number"), col("ss_item_sk"), lit(35)), lit(10L)) === 0)
      .select(
        col("ss_ticket_number").as("sr_ticket_number"),
        col("ss_item_sk").as("sr_item_sk"),
        col("ss_customer_sk").as("sr_customer_sk"),
        col("ss_cdemo_sk").as("sr_cdemo_sk"),
        col("ss_store_sk").as("sr_store_sk"),
        col("ss_quantity"),
        least(col("ss_sold_date_sk")
            + pmod(xxhash64(col("ss_ticket_number"), col("ss_item_sk"), lit(36)), lit(150L)) + 1,
          lit(Dates)).as("sr_returned_date_sk"))
      .withColumn("sr_fee",
        (pmod(xxhash64(col("sr_ticket_number"), col("sr_item_sk"), lit(37)), lit(10000L)) / 100.0)
          .cast("decimal(7,2)"))
      .withColumn("sr_return_amt",
        (pmod(xxhash64(col("sr_ticket_number"), col("sr_item_sk"), lit(38)), lit(50000L)) / 100.0)
          .cast("decimal(7,2)"))
      .withColumn("sr_reason_sk",
        pmod(xxhash64(col("sr_ticket_number"), col("sr_item_sk"), lit(39)), lit(35L)) + 1)
      .withColumn("sr_return_quantity",
        (pmod(xxhash64(col("sr_ticket_number"), col("sr_item_sk"), lit(40)), col("ss_quantity")) + 1)
          .cast("int"))
      .withColumn("sr_net_loss",
        (pmod(xxhash64(col("sr_ticket_number"), col("sr_item_sk"), lit(41)), lit(20000L)) / 100.0)
          .cast("decimal(7,2)"))
      .drop("ss_quantity")

    // ---- catalog channel (grain: order_number × item, ~2.5 lines/order).
    // Bill customer/item draw from the SAME sk domains as the store
    // channel, so cross-channel correlation queries (q25/q29/q78/q97:
    // "same customer bought the same item in another channel") have real
    // key overlap rather than disjoint synthetic spaces.
    val cs = spark.range(CatalogRows)
      .withColumn("ord", (col("id") / 2.5).cast("long"))
      .select(
        col("ord").as("cs_order_number"),
        skewed(col("ord"), 140, 50, HotCustomers, Customers).as("cs_bill_customer_sk"),
        (pmod(h(col("ord"), 51), lit(CustomerDemos)) + 1).as("cs_bill_cdemo_sk"),
        (pmod(h(col("ord"), 131), lit(HouseholdDemos)) + 1).as("cs_bill_hdemo_sk"),
        (pmod(h(col("ord"), 52), lit(Addresses)) + 1).as("cs_bill_addr_sk"),
        (pmod(h(col("ord"), 53), lit(Dates)) + 1).as("cs_sold_date_sk"),
        pmod(h(col("ord"), 54), lit(86400L)).as("cs_sold_time_sk"),
        (pmod(h(col("ord"), 55), lit(CallCenters)) + 1).as("cs_call_center_sk"),
        (pmod(h(col("id"), 56), lit(ShipModes)) + 1).as("cs_ship_mode_sk"),
        // ~2% null (q76's catalog-channel null-audit column)
        when(pmod(h(col("id"), 78), lit(50L)) === 0, lit(null))
          .otherwise(pmod(h(col("id"), 57), lit(Warehouses)) + 1).as("cs_warehouse_sk"),
        (pmod(h(col("ord"), 79), lit(Customers)) + 1).as("cs_ship_customer_sk"),
        skewed(col("id"), 139, 58, HotItems, Items).as("cs_item_sk"),
        (pmod(h(col("ord"), 143), lit(CatalogPages)) + 1).as("cs_catalog_page_sk"),
        (pmod(h(col("id"), 59), lit(Promotions)) + 1).as("cs_promo_sk"),
        (pmod(h(col("id"), 60), lit(30L)) + 1).cast("int").as("cs_quantity"),
        col("id"))
      // ship lag 1..60 days, capped at calendar end (q16/q94's "ship
      // within 60 days" and q21's before/after split live on this lag)
      .withColumn("cs_ship_date_sk",
        least(col("cs_sold_date_sk") + pmod(h(col("cs_order_number"), 61), lit(60L)) + 1,
          lit(Dates)))
      .withColumn("cs_sales_price",
        round(pow(pmod(col("cs_item_sk") + 7, lit(300L)) + 1, 2) / 100.0, 2).cast("decimal(7,2)"))
      .withColumn("cs_ext_sales_price",
        (col("cs_sales_price") * col("cs_quantity")).cast("decimal(7,2)"))
      .withColumn("cs_list_price",
        (pmod(h(col("id"), 62), lit(20000L)) / 100.0).cast("decimal(7,2)"))
      .withColumn("cs_ext_list_price",
        (col("cs_list_price") * col("cs_quantity")).cast("decimal(7,2)"))
      .withColumn("cs_wholesale_cost",
        (pmod(h(col("id"), 63), lit(10000L)) / 100.0).cast("decimal(7,2)"))
      .withColumn("cs_ext_wholesale_cost",
        (col("cs_wholesale_cost") * col("cs_quantity")).cast("decimal(7,2)"))
      .withColumn("cs_coupon_amt",
        (pmod(h(col("id"), 119), lit(500L)) / 100.0).cast("decimal(7,2)"))
      .withColumn("cs_ext_discount_amt",
        (pmod(h(col("id"), 64), lit(10000L)) / 100.0).cast("decimal(7,2)"))
      .withColumn("cs_ext_ship_cost",
        (pmod(h(col("id"), 65), lit(5000L)) / 100.0).cast("decimal(7,2)"))
      .withColumn("cs_net_paid",
        (pmod(h(col("id"), 66), lit(30000L)) / 100.0).cast("decimal(7,2)"))
      .withColumn("cs_net_profit",
        ((pmod(h(col("id"), 67), lit(80000L)) - 20000) / 100.0).cast("decimal(7,2)"))
      .withColumn("cs_net_paid_inc_ship_tax",
        (pmod(h(col("id"), 68), lit(33000L)) / 100.0).cast("decimal(7,2)"))
      .drop("id")

    // ~10% of catalog lines return 1..120 days after ship
    val creturns = cs
      .filter(pmod(xxhash64(col("cs_order_number"), col("cs_item_sk"), lit(70)), lit(10L)) === 0)
      .select(
        col("cs_order_number").as("cr_order_number"),
        col("cs_item_sk").as("cr_item_sk"),
        col("cs_bill_customer_sk").as("cr_returning_customer_sk"),
        col("cs_bill_addr_sk").as("cr_returning_addr_sk"),
        col("cs_call_center_sk").as("cr_call_center_sk"),
        col("cs_catalog_page_sk").as("cr_catalog_page_sk"),
        col("cs_warehouse_sk").as("cr_warehouse_sk"),
        col("cs_quantity"),
        least(col("cs_ship_date_sk")
            + pmod(xxhash64(col("cs_order_number"), col("cs_item_sk"), lit(71)), lit(120L)) + 1,
          lit(Dates)).as("cr_returned_date_sk"))
      .withColumn("cr_return_quantity",
        (pmod(xxhash64(col("cr_order_number"), col("cr_item_sk"), lit(72)), col("cs_quantity")) + 1)
          .cast("int"))
      .withColumn("cr_return_amount",
        (pmod(xxhash64(col("cr_order_number"), col("cr_item_sk"), lit(73)), lit(50000L)) / 100.0)
          .cast("decimal(7,2)"))
      .withColumn("cr_return_amt_inc_tax",
        (pmod(xxhash64(col("cr_order_number"), col("cr_item_sk"), lit(123)), lit(55000L)) / 100.0)
          .cast("decimal(7,2)"))
      .withColumn("cr_refunded_cash",
        (pmod(xxhash64(col("cr_order_number"), col("cr_item_sk"), lit(74)), lit(30000L)) / 100.0)
          .cast("decimal(7,2)"))
      .withColumn("cr_net_loss",
        (pmod(xxhash64(col("cr_order_number"), col("cr_item_sk"), lit(75)), lit(20000L)) / 100.0)
          .cast("decimal(7,2)"))
      .withColumn("cr_reversed_charge",
        (pmod(xxhash64(col("cr_order_number"), col("cr_item_sk"), lit(152)), lit(10000L)) / 100.0)
          .cast("decimal(7,2)"))
      .withColumn("cr_store_credit",
        (pmod(xxhash64(col("cr_order_number"), col("cr_item_sk"), lit(153)), lit(10000L)) / 100.0)
          .cast("decimal(7,2)"))
      .drop("cs_quantity")

    // ---- web channel (grain: order_number × item, ~2 lines/order)
    val ws = spark.range(WebRows)
      .withColumn("ord", (col("id") / 2).cast("long"))
      .select(
        col("ord").as("ws_order_number"),
        skewed(col("ord"), 142, 80, HotCustomers, Customers).as("ws_bill_customer_sk"),
        (pmod(h(col("ord"), 81), lit(Addresses)) + 1).as("ws_bill_addr_sk"),
        (pmod(h(col("ord"), 82), lit(Addresses)) + 1).as("ws_ship_addr_sk"),
        (pmod(h(col("ord"), 83), lit(Dates)) + 1).as("ws_sold_date_sk"),
        pmod(h(col("ord"), 84), lit(86400L)).as("ws_sold_time_sk"),
        (pmod(h(col("ord"), 85), lit(WebSites)) + 1).as("ws_web_site_sk"),
        // ~2% null (q76's web-channel null-audit column)
        when(pmod(h(col("ord"), 106), lit(50L)) === 0, lit(null))
          .otherwise(pmod(h(col("ord"), 86), lit(WebPages)) + 1).as("ws_web_page_sk"),
        (pmod(h(col("id"), 87), lit(Warehouses)) + 1).as("ws_warehouse_sk"),
        (pmod(h(col("id"), 88), lit(ShipModes)) + 1).as("ws_ship_mode_sk"),
        skewed(col("id"), 141, 89, HotItems, Items).as("ws_item_sk"),
        (pmod(h(col("id"), 90), lit(Promotions)) + 1).as("ws_promo_sk"),
        (pmod(h(col("ord"), 95), lit(HouseholdDemos)) + 1).as("ws_ship_hdemo_sk"),
        (pmod(h(col("id"), 91), lit(30L)) + 1).cast("int").as("ws_quantity"),
        col("id"))
      .withColumn("ws_ship_date_sk",
        least(col("ws_sold_date_sk") + pmod(h(col("ws_order_number"), 92), lit(60L)) + 1,
          lit(Dates)))
      .withColumn("ws_sales_price",
        round(pow(pmod(col("ws_item_sk") + 13, lit(300L)) + 1, 2) / 100.0, 2).cast("decimal(7,2)"))
      .withColumn("ws_ext_sales_price",
        (col("ws_sales_price") * col("ws_quantity")).cast("decimal(7,2)"))
      .withColumn("ws_list_price",
        (pmod(h(col("id"), 93), lit(20000L)) / 100.0).cast("decimal(7,2)"))
      .withColumn("ws_ext_list_price",
        (col("ws_list_price") * col("ws_quantity")).cast("decimal(7,2)"))
      .withColumn("ws_wholesale_cost",
        (pmod(h(col("id"), 94), lit(10000L)) / 100.0).cast("decimal(7,2)"))
      .withColumn("ws_ext_wholesale_cost",
        (col("ws_wholesale_cost") * col("ws_quantity")).cast("decimal(7,2)"))
      .withColumn("ws_ext_discount_amt",
        (pmod(h(col("id"), 96), lit(10000L)) / 100.0).cast("decimal(7,2)"))
      .withColumn("ws_ext_ship_cost",
        (pmod(h(col("id"), 97), lit(5000L)) / 100.0).cast("decimal(7,2)"))
      .withColumn("ws_net_paid",
        (pmod(h(col("id"), 98), lit(30000L)) / 100.0).cast("decimal(7,2)"))
      .withColumn("ws_net_profit",
        ((pmod(h(col("id"), 99), lit(80000L)) - 20000) / 100.0).cast("decimal(7,2)"))
      .withColumn("ws_net_paid_inc_tax",
        (pmod(h(col("id"), 107), lit(33000L)) / 100.0).cast("decimal(7,2)"))
      .drop("id")

    val wreturns = ws
      .filter(pmod(xxhash64(col("ws_order_number"), col("ws_item_sk"), lit(100)), lit(10L)) === 0)
      .select(
        col("ws_order_number").as("wr_order_number"),
        col("ws_item_sk").as("wr_item_sk"),
        col("ws_bill_customer_sk").as("wr_returning_customer_sk"),
        col("ws_bill_addr_sk").as("wr_returning_addr_sk"),
        col("ws_bill_addr_sk").as("wr_refunded_addr_sk"),
        col("ws_web_page_sk").as("wr_web_page_sk"),
        col("ws_quantity"),
        least(col("ws_ship_date_sk")
            + pmod(xxhash64(col("ws_order_number"), col("ws_item_sk"), lit(101)), lit(120L)) + 1,
          lit(Dates)).as("wr_returned_date_sk"))
      .withColumn("wr_return_quantity",
        (pmod(xxhash64(col("wr_order_number"), col("wr_item_sk"), lit(102)), col("ws_quantity")) + 1)
          .cast("int"))
      .withColumn("wr_return_amt",
        (pmod(xxhash64(col("wr_order_number"), col("wr_item_sk"), lit(103)), lit(50000L)) / 100.0)
          .cast("decimal(7,2)"))
      .withColumn("wr_refunded_cash",
        (pmod(xxhash64(col("wr_order_number"), col("wr_item_sk"), lit(104)), lit(30000L)) / 100.0)
          .cast("decimal(7,2)"))
      .withColumn("wr_net_loss",
        (pmod(xxhash64(col("wr_order_number"), col("wr_item_sk"), lit(105)), lit(20000L)) / 100.0)
          .cast("decimal(7,2)"))
      .withColumn("wr_fee",
        (pmod(xxhash64(col("wr_order_number"), col("wr_item_sk"), lit(149)), lit(10000L)) / 100.0)
          .cast("decimal(7,2)"))
      .withColumn("wr_reason_sk",
        pmod(xxhash64(col("wr_order_number"), col("wr_item_sk"), lit(148)), lit(35L)) + 1)
      .withColumn("wr_refunded_cdemo_sk",
        pmod(xxhash64(col("wr_order_number"), col("wr_item_sk"), lit(147)), lit(CustomerDemos)) + 1)
      // 80% of returns refund and return under the SAME demographics row:
      // q85's cd1=cd2 marital/education pairing is empty under independent
      // draws (P ≈ 1/400 per disjunct before its price/geo filters)
      .withColumn("wr_returning_cdemo_sk",
        when(pmod(xxhash64(col("wr_order_number"), col("wr_item_sk"), lit(154)), lit(5L)) === 0,
          pmod(xxhash64(col("wr_order_number"), col("wr_item_sk"), lit(155)), lit(CustomerDemos)) + 1)
          .otherwise(col("wr_refunded_cdemo_sk")))
      .drop("ws_quantity")

    // ---- weekly inventory snapshots: every 7th calendar day × item ×
    // warehouse (the reference's inventory is exactly this weekly grain)
    val inventory = spark.range(Dates / 7)
      .select((col("id") * 7 + 1).as("inv_date_sk"))
      .crossJoin(spark.range(Items).select((col("id") + 1).as("inv_item_sk")))
      .crossJoin(spark.range(Warehouses).select((col("id") + 1).as("inv_warehouse_sk")))
      // heavy-tailed: ~1/9 of snapshots spike to 0..9999 over a 0..199
      // base, so q39's per-month coefficient-of-variation filter
      // (stdev/mean > 1 over the ~4 weekly samples) selects real rows —
      // a uniform domain pins cov near 0.6 and returns nothing
      .withColumn("inv_quantity_on_hand",
        when(pmod(xxhash64(col("inv_date_sk"), col("inv_item_sk"),
            col("inv_warehouse_sk"), lit(144)), lit(9L)) === 0,
          pmod(xxhash64(col("inv_date_sk"), col("inv_item_sk"),
            col("inv_warehouse_sk"), lit(110)), lit(10000L)))
          .otherwise(pmod(xxhash64(col("inv_date_sk"), col("inv_item_sk"),
            col("inv_warehouse_sk"), lit(110)), lit(200L)))
          .cast("int"))

    val warehouse = spark.range(Warehouses).select((col("id") + 1).as("w_warehouse_sk"))
      .withColumn("w_warehouse_name", concat(lit("Warehouse_"), col("w_warehouse_sk")))
      .withColumn("w_warehouse_sq_ft", (col("w_warehouse_sk") * 25000).cast("int"))
      .withColumn("w_city", element_at(
        array(Seq("Midway", "Fairview", "City_2", "City_3").map(lit): _*),
        col("w_warehouse_sk").cast("int")))
      .withColumn("w_county", lit("Williamson County"))
      .withColumn("w_state", element_at(
        array(Seq("TN", "SC", "AL", "GA").map(lit): _*), col("w_warehouse_sk").cast("int")))
      .withColumn("w_country", lit("United States"))

    val callCenter = spark.range(CallCenters).select((col("id") + 1).as("cc_call_center_sk"))
      .withColumn("cc_call_center_id", concat(lit("CC_"), lpad(col("cc_call_center_sk"), 3, "0")))
      .withColumn("cc_name", concat(lit("call_center_"), col("cc_call_center_sk")))
      .withColumn("cc_county", lit("Williamson County"))
      .withColumn("cc_manager", concat(lit("Manager_"), col("cc_call_center_sk")))

    val shipMode = spark.range(ShipModes).select((col("id") + 1).as("sm_ship_mode_sk"))
      .withColumn("sm_type", element_at(
        array(Seq("EXPRESS", "OVERNIGHT", "REGULAR", "NEXT DAY", "TWO DAY",
          "LIBRARY", "MAIL", "EXPRESS").map(lit): _*),
        col("sm_ship_mode_sk").cast("int")))
      .withColumn("sm_carrier", element_at(
        array(Seq("UPS", "FEDEX", "AIRBORNE", "USPS", "DHL", "TBS", "ZHOU",
          "LATVIAN").map(lit): _*),
        col("sm_ship_mode_sk").cast("int")))
      .withColumn("sm_code", element_at(
        array(Seq("AIR", "SURFACE", "SEA", "AIR", "SURFACE", "SEA", "AIR",
          "SURFACE").map(lit): _*),
        col("sm_ship_mode_sk").cast("int")))

    val webSite = spark.range(WebSites).select((col("id") + 1).as("web_site_sk"))
      .withColumn("web_site_id", concat(lit("WEB_"), lpad(col("web_site_sk"), 3, "0")))
      .withColumn("web_name", concat(lit("site_"), col("web_site_sk") - 1))
      .withColumn("web_company_name", lit("pri"))

    // linear spread 2635..5200 so q90's 5000..5200 band always holds the
    // top pages (a hashed domain left the band empty ~20% of the time)
    val webPage = spark.range(WebPages).select((col("id") + 1).as("wp_web_page_sk"))
      .withColumn("wp_char_count", (lit(2500) + col("wp_web_page_sk") * 135).cast("int"))

    val catalogPage = spark.range(CatalogPages)
      .select((col("id") + 1).as("cp_catalog_page_sk"))
      .withColumn("cp_catalog_page_id",
        concat(lit("CP_"), lpad(col("cp_catalog_page_sk"), 4, "0")))
      .withColumn("cp_catalog_number",
        (pmod(col("cp_catalog_page_sk"), lit(4L)) + 1).cast("int"))
      .withColumn("cp_catalog_page_number", col("cp_catalog_page_sk").cast("int"))
      .withColumn("cp_description",
        concat(lit("catalog page "), col("cp_catalog_page_sk")))
      .withColumn("cp_type", element_at(
        array(Seq("bi-annual", "quarterly", "monthly").map(lit): _*),
        (pmod(col("cp_catalog_page_sk"), lit(3L)) + 1).cast("int")))

    // the TPC-DS spec's 20 contiguous $10k bands; q84/q64 join household
    // demographics through ib_lower/upper_bound range predicates. Band 1
    // spans 0..10000 (the spec starts at 0), later bands 10001..20000 etc.
    val incomeBand = spark.range(IncomeBands)
      .select((col("id") + 1).as("ib_income_band_sk"))
      .withColumn("ib_lower_bound",
        ((col("ib_income_band_sk") - 1) * 10000
          + when(col("ib_income_band_sk") > 1, 1).otherwise(0)).cast("int"))
      .withColumn("ib_upper_bound", (col("ib_income_band_sk") * 10000).cast("int"))

    val reason = spark.range(35L).select((col("id") + 1).as("r_reason_sk"))
      .withColumn("r_reason_id", concat(lit("R_"), lpad(col("r_reason_sk"), 3, "0")))
      .withColumn("r_reason_desc",
        when(col("r_reason_sk") === 1, "Did not like the warranty")
          .otherwise(concat(lit("reason "), col("r_reason_sk"))))

    Map("store_sales" -> ss, "date_dim" -> dates, "time_dim" -> times,
      "item" -> item, "store" -> store, "household_demographics" -> hd,
      "customer" -> customer, "reason" -> reason,
      "customer_address" -> address, "customer_demographics" -> cdemo,
      "promotion" -> promotion, "store_returns" -> sreturns,
      "catalog_sales" -> cs, "catalog_returns" -> creturns,
      "web_sales" -> ws, "web_returns" -> wreturns,
      "inventory" -> inventory, "warehouse" -> warehouse,
      "call_center" -> callCenter, "ship_mode" -> shipMode,
      "web_site" -> webSite, "web_page" -> webPage,
      "catalog_page" -> catalogPage, "income_band" -> incomeBand)
  }

  /** Generate-once: write each table if its directory isn't committed yet,
    * then register temp views so the ported SQL runs verbatim. */
  def ensure(spark: SparkSession): Unit = synchronized {
    val frames = if (tables.forall(t => new File(s"$dir/$t/_SUCCESS").exists())) None
    else Some(gen(spark))
    val shards = Map("store_sales" -> 8, "catalog_sales" -> 4,
      "web_sales" -> 4, "inventory" -> 4)
    frames.foreach(_.foreach { case (name, df) =>
      df.repartition(shards.getOrElse(name, 1) * scale) // ~constant bytes/file across scales
        .write.mode("overwrite").parquet(s"$dir/$name")
    })
    tables.foreach { t =>
      spark.read.parquet(s"$dir/$t").createOrReplaceTempView(t)
    }
  }

  /** Register the temp views from a PRE-GENERATED corpus at `s` (no
    * generation — returns false when that scale's directory is absent).
    * Lets one JVM time several scales: generate each scale in its own JVM
    * via SPARK_GRAFT_TPCDS_SCALE, then swap the views here. */
  def registerAt(spark: SparkSession, s: Int): Boolean = synchronized {
    val d = dirFor(s)
    val ready = tables.forall(t => new File(s"$d/$t/_SUCCESS").exists())
    if (ready) tables.foreach { t =>
      spark.read.parquet(s"$d/$t").createOrReplaceTempView(t)
    }
    ready
  }

  /** DuckDB oracle prefix: the same tables as WITH-views over the SAME
    * parquet files the Spark run read. */
  def oraclePrefix: String =
    tables.map(t => s"$t AS (SELECT * FROM read_parquet('$dir/$t/*.parquet'))")
      .mkString("WITH ", ",\n", "\n")

  /** Wrap a query body for DuckDB; a body that itself starts with WITH
    * gets its CTEs merged into the view list. */
  def oracleSql(body: String): String = {
    val b = body.trim
    if (b.length >= 4 && b.substring(0, 4).equalsIgnoreCase("with"))
      oraclePrefix.stripSuffix("\n") + ",\n" + b.substring(4).trim
    else oraclePrefix + b
  }
}
