package graft.queries

import graft.{QueryPack, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scalar-function surface (SURVEY.md §2.7 "Scalar fns"): string, date,
  * math, conditional, JSON, and array (higher-order) functions. All
  * codegen'd built-ins — no UDFs — so each query stays inside one
  * WholeStageCodegen span over the parquet scan.
  */
object ScalarQueries extends QueryPack {
  private def t(s: SparkSession, d: String, n: String): DataFrame = Tables.table(s, d, n)

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_scalar_string" -> { (s, d) =>
      import s.implicits._
      t(s, d, "part").select(
        $"p_partkey",
        upper($"p_name").as("name_upper"),
        substring($"p_name", 1, 5).as("name_sub"),
        concat($"p_brand", lit(":"), $"p_type").as("brand_type"),
        asLong($"p_name".like("%green%")).as("is_green"),
        asLong(length($"p_name")).as("name_len"),
        regexp_replace($"p_name", " ", "_").as("name_snake"),
        element_at(split($"p_name", " "), 1).as("first_word"))
        .orderBy($"p_partkey")
    },

    "q_scalar_date" -> { (s, d) =>
      import s.implicits._
      t(s, d, "orders").select(
        $"o_orderkey",
        asLong(year($"o_orderdate")).as("yr"),
        asLong(quarter($"o_orderdate")).as("qtr"),
        asLong(month($"o_orderdate")).as("mon"),
        asLong(weekday($"o_orderdate") + 1).as("dow_iso"),
        date_trunc("month", $"o_orderdate").as("month_start"),
        asLong(datediff($"o_orderdate", lit("1995-01-01").cast("date"))).as("days_since"),
        ($"o_orderdate" + expr("INTERVAL 90 DAYS")).as("plus_90d"),
        asLong(unix_timestamp($"o_orderdate")).as("unix_ts"))
        .orderBy($"o_orderkey")
    },

    "q_scalar_math" -> { (s, d) =>
      import s.implicits._
      t(s, d, "lineitem").select(
        $"l_orderkey", asLong($"l_linenumber").as("lineno"),
        round(log($"l_extendedprice"), 6).as("ln_price"),
        sqrt($"l_quantity").as("sqrt_qty"), // IEEE-exact: identical bits
        abs($"l_discount" - 0.05).as("abs_disc"),
        floor($"l_extendedprice").as("floor_price"),
        ceil($"l_extendedprice").as("ceil_price"),
        asLong($"l_orderkey" % 7).as("key_mod7"),
        ($"l_quantity" * $"l_quantity").as("qty_sq"))
        .orderBy($"l_orderkey", $"lineno")
    },

    "q_scalar_cond" -> { (s, d) =>
      import s.implicits._
      val seg = when($"c_acctbal" < 0, "negative")
        .when($"c_acctbal" < 3000, "low")
        .when($"c_acctbal" < 7000, "mid")
        .otherwise("high")
      t(s, d, "customer")
        .groupBy(seg.as("bal_segment"))
        .agg(count(lit(1)).as("n"),
             asDouble(sum(dec(col("c_acctbal")))).as("total_bal"))
        .orderBy(col("bal_segment"))
    },

    "q_scalar_json" -> { (s, d) =>
      import s.implicits._
      t(s, d, "events").select(
        $"event_id",
        get_json_object($"props", "$.k").cast("long").as("k"),
        asLong(get_json_object($"props", "$.k").isNotNull).as("has_k"),
        (get_json_object($"props", "$.k").cast("long") % 10).as("k_mod10"))
        .orderBy($"event_id")
    },

    // ---- bitwise functions ----
    "q_scalar_bitwise" -> { (s, d) =>
      import s.implicits._
      t(s, d, "events").select(
        $"event_id",
        ($"event_id".bitwiseAND($"user_id")).as("b_and"),
        ($"event_id".bitwiseOR($"user_id")).as("b_or"),
        ($"event_id".bitwiseXOR($"user_id")).as("b_xor"),
        shiftleft($"user_id", 3).as("b_shl"),
        shiftright($"event_id", 2).as("b_shr"),
        asLong(bit_count($"event_id")).as("b_pop"))
        .orderBy($"event_id")
    },

    // ---- Z-order clustering key (multi-dim file-skipping layout) ----
    "q_zorder_key" -> { (s, d) =>
      import s.implicits._
      graft.functions.register(s)
      t(s, d, "events").select(
        $"event_id",
        $"user_id",
        expr("zorder64(user_id, event_id % 1024)").as("zkey"))
        .orderBy($"event_id")
    },

    // ---- null-handling functions ----
    "q_scalar_null_fns" -> { (s, d) =>
      import s.implicits._
      t(s, d, "customer").select(
        $"c_custkey",
        coalesce(nullif($"c_mktsegment", lit("BUILDING")), lit("(was building)")).as("seg_or_default"),
        asLong($"c_acctbal" > 0).as("is_positive"),
        greatest($"c_acctbal", lit(0.0)).as("bal_floor0"),
        least($"c_acctbal", lit(1000.0)).as("bal_cap1000"))
        .orderBy($"c_custkey")
    },

    "q_scalar_json_map" -> { (s, d) =>
      import s.implicits._
      val m = from_json($"props", org.apache.spark.sql.types.MapType(
        org.apache.spark.sql.types.StringType, org.apache.spark.sql.types.LongType))
      t(s, d, "events").select(
        $"event_id",
        element_at(m, "k").as("k_from_map"),
        asLong(size(map_keys(m))).as("n_keys"))
        .orderBy($"event_id")
    },

    "q_array_ops" -> { (s, d) =>
      import s.implicits._
      t(s, d, "embeddings").select(
        $"vec_id",
        asLong(size($"embedding")).as("n_dims"),
        asDouble(element_at($"embedding", 1)).as("first_val"),
        round(aggregate($"embedding", lit(0.0),
          (acc, x) => acc + abs(x)), 6).as("l1_norm"),
        asDouble(array_max($"embedding")).as("max_val"),
        asLong(size(filter($"embedding", x => x < 0))).as("n_negative"))
        .orderBy($"vec_id")
    },

    // ---- Spark 4 VARIANT: semi-structured binary type, typed-path reads ----
    // Build a nested JSON document from typed columns, parse it ONCE into
    // a VARIANT (binary semi-structured encoding), then read typed values
    // back by path — including a doubly-nested hop (the original `props`
    // JSON string rides inside the outer document and is re-parsed from
    // the variant). The oracle compares every extraction against the
    // ORIGINAL columns, proving encode -> variant -> typed path is
    // lossless. At 100 TB this is the semi-structured scan shape: parse
    // once at ingest, store binary, and every downstream query does cheap
    // typed path reads instead of re-tokenizing JSON strings per query
    // (with parquet shredding, path reads prune to subcolumns).
    "q_scalar_variant" -> { (s, d) =>
      import s.implicits._
      // the sf file is one scan split and the JSON encode/parse is the
      // per-row cost — spread it before paying it (the shuffle moves
      // skinny source rows; a cluster scan arrives pre-split)
      t(s, d, "events")
        .repartition(s.sparkContext.defaultParallelism)
        .select($"event_id".as("eid"),
          parse_json(to_json(struct($"event_type", $"value",
            struct($"user_id", $"event_id").as("ids"), $"props"))).as("v"))
        .select(
          $"eid".as("event_id"),
          expr("variant_get(v, '$.event_type', 'string')").as("event_type"),
          expr("variant_get(v, '$.value', 'double')").as("value"),
          expr("variant_get(v, '$.ids.user_id', 'long')").as("user_id"),
          expr("variant_get(parse_json(variant_get(v, '$.props', 'string')), " +
            "'$.k', 'long')").as("k"),
          asLong(expr("variant_get(v, '$.ids.event_id', 'long')") === $"eid")
            .as("id_roundtrip"),
          asLong(expr("variant_get(v, '$.no_such_path', 'string')").isNull)
            .as("missing_is_null"))
        .orderBy($"event_id")
    }
  )

  override def oracles: Map[String, String] = Map(
    "q_scalar_string" ->
      """SELECT p_partkey,
        |  upper(p_name) AS name_upper,
        |  substring(p_name, 1, 5) AS name_sub,
        |  p_brand || ':' || p_type AS brand_type,
        |  CAST(p_name LIKE '%green%' AS BIGINT) AS is_green,
        |  CAST(length(p_name) AS BIGINT) AS name_len,
        |  replace(p_name, ' ', '_') AS name_snake,
        |  string_split(p_name, ' ')[1] AS first_word
        |FROM part
        |ORDER BY p_partkey""".stripMargin,

    "q_scalar_date" ->
      """SELECT o_orderkey,
        |  CAST(year(o_orderdate) AS BIGINT) AS yr,
        |  CAST(quarter(o_orderdate) AS BIGINT) AS qtr,
        |  CAST(month(o_orderdate) AS BIGINT) AS mon,
        |  CAST(isodow(o_orderdate) AS BIGINT) AS dow_iso,
        |  CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
        |  date_diff('day', TIMESTAMP '1995-01-01 00:00:00', CAST(o_orderdate AS TIMESTAMP)) AS days_since,
        |  CAST(o_orderdate + INTERVAL '90 days' AS TIMESTAMP) AS plus_90d,
        |  CAST(floor(epoch(CAST(o_orderdate AS TIMESTAMP))) AS BIGINT) AS unix_ts
        |FROM orders
        |ORDER BY o_orderkey""".stripMargin,

    "q_scalar_math" ->
      """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS lineno,
        |  round(ln(l_extendedprice), 6) AS ln_price,
        |  sqrt(l_quantity) AS sqrt_qty,
        |  abs(l_discount - 0.05) AS abs_disc,
        |  CAST(floor(l_extendedprice) AS BIGINT) AS floor_price,
        |  CAST(ceil(l_extendedprice) AS BIGINT) AS ceil_price,
        |  CAST(l_orderkey % 7 AS BIGINT) AS key_mod7,
        |  l_quantity * l_quantity AS qty_sq
        |FROM lineitem
        |ORDER BY l_orderkey, lineno""".stripMargin,

    "q_scalar_cond" ->
      """SELECT CASE WHEN c_acctbal < 0 THEN 'negative'
        |            WHEN c_acctbal < 3000 THEN 'low'
        |            WHEN c_acctbal < 7000 THEN 'mid'
        |            ELSE 'high' END AS bal_segment,
        |  count(*) AS n,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS total_bal
        |FROM customer
        |GROUP BY 1
        |ORDER BY bal_segment""".stripMargin,

    "q_scalar_json" ->
      """SELECT event_id,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
        |  CAST(json_extract_string(props, '$.k') IS NOT NULL AS BIGINT) AS has_k,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_mod10
        |FROM events
        |ORDER BY event_id""".stripMargin,

    "q_scalar_bitwise" ->
      """SELECT event_id,
        |  event_id & user_id AS b_and,
        |  event_id | user_id AS b_or,
        |  xor(event_id, user_id) AS b_xor,
        |  user_id << 3 AS b_shl,
        |  event_id >> 2 AS b_shr,
        |  CAST(bit_count(event_id) AS BIGINT) AS b_pop
        |FROM events
        |ORDER BY event_id""".stripMargin,

    // the same magic-mask bit spread, mirrored in SQL (all integer ops)
    "q_zorder_key" ->
      """WITH s AS (
        |  SELECT event_id, user_id,
        |    user_id & 4294967295 AS xa,
        |    (event_id % 1024) & 4294967295 AS xb
        |  FROM events),
        |sp AS (
        |  SELECT event_id, user_id,
        |    ((xa | (xa << 16)) & 281470681808895) AS a1,
        |    ((xb | (xb << 16)) & 281470681808895) AS b1
        |  FROM s),
        |sp2 AS (
        |  SELECT event_id, user_id,
        |    ((a1 | (a1 << 8)) & 71777214294589695) AS a2,
        |    ((b1 | (b1 << 8)) & 71777214294589695) AS b2
        |  FROM sp),
        |sp3 AS (
        |  SELECT event_id, user_id,
        |    ((a2 | (a2 << 4)) & 1085102592571150095) AS a3,
        |    ((b2 | (b2 << 4)) & 1085102592571150095) AS b3
        |  FROM sp2),
        |sp4 AS (
        |  SELECT event_id, user_id,
        |    ((a3 | (a3 << 2)) & 3689348814741910323) AS a4,
        |    ((b3 | (b3 << 2)) & 3689348814741910323) AS b4
        |  FROM sp3),
        |sp5 AS (
        |  SELECT event_id, user_id,
        |    ((a4 | (a4 << 1)) & 6148914691236517205) AS a5,
        |    ((b4 | (b4 << 1)) & 6148914691236517205) AS b5
        |  FROM sp4)
        |SELECT event_id, user_id, (a5 | (b5 << 1)) AS zkey
        |FROM sp5
        |ORDER BY event_id""".stripMargin,

    "q_scalar_null_fns" ->
      """SELECT c_custkey,
        |  coalesce(nullif(c_mktsegment, 'BUILDING'), '(was building)') AS seg_or_default,
        |  CAST(c_acctbal > 0 AS BIGINT) AS is_positive,
        |  greatest(c_acctbal, 0.0) AS bal_floor0,
        |  least(c_acctbal, 1000.0) AS bal_cap1000
        |FROM customer
        |ORDER BY c_custkey""".stripMargin,

    "q_scalar_json_map" ->
      """SELECT event_id,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_from_map,
        |  CAST(len(json_keys(props)) AS BIGINT) AS n_keys
        |FROM events
        |ORDER BY event_id""".stripMargin,

    "q_array_ops" ->
      """SELECT vec_id,
        |  CAST(len(embedding) AS BIGINT) AS n_dims,
        |  CAST(embedding[1] AS DOUBLE) AS first_val,
        |  round(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x))), 6) AS l1_norm,
        |  CAST(list_max(embedding) AS DOUBLE) AS max_val,
        |  CAST(len(list_filter(embedding, x -> x < 0)) AS BIGINT) AS n_negative
        |FROM embeddings
        |ORDER BY vec_id""".stripMargin,

    // The oracle reads the ORIGINAL columns — if the variant encode or a
    // typed path read lost anything, the compare fails.
    "q_scalar_variant" ->
      """SELECT event_id, event_type, value, user_id,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
        |  CAST(1 AS BIGINT) AS id_roundtrip,
        |  CAST(1 AS BIGINT) AS missing_is_null
        |FROM events
        |ORDER BY event_id""".stripMargin
  )
}
