package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.Tables

/** Second scalar/aggregate function battery — fills out SURVEY.md §2.8:
  * encodings (base64/hex/ascii/chr), regexp extraction, split_part,
  * translate, levenshtein, trig/log math, statistical aggregates
  * (stddev/variance/corr/covar/median), ordered LISTAGG, and the
  * window-join + lookup-join operator shapes from §2.3.
  *
  * Float-valued functions are rounded to 6 decimals on BOTH engines:
  * libm (DuckDB) and JDK Math (Spark) may differ in the last ulp, and
  * pre-rounding absorbs it far inside the driver's 1e-9 canonical
  * rounding.
  */
object Functions2 extends QueryModule {

  def declared: Seq[Query] = Seq(
    // ---- Encodings + regexp + split ----------------------------------
    Query("q18_string_functions2",
      """SELECT p_partkey,
        |  base64(encode(p_brand)) AS brand_b64,
        |  ascii(p_name) AS first_cp,
        |  chr(CAST(p_partkey % 26 AS INT) + 65) AS key_chr,
        |  hex(p_size) AS size_hex,
        |  bin(p_size) AS size_bin,
        |  regexp_extract(p_brand, 'Brand#(\d+)', 1) AS brand_no,
        |  split_part(p_type, ' ', 1) AS type_first,
        |  translate(p_brand, '#B', '_b') AS brand_tr,
        |  repeat(p_brand, 2) AS brand_x2,
        |  levenshtein(p_brand, p_type) AS edit_dist,
        |  instr(p_name, 'a') AS a_pos,
        |  array_to_string((string_split(p_type, ' '))[1:2], ' ') AS type_first2
        |FROM part""".stripMargin) { (s, dir) =>
      val p = Tables.load(s, dir, "part")
      p.select(
        col("p_partkey"),
        base64(col("p_brand").cast("binary")).as("brand_b64"),
        ascii(col("p_name")).as("first_cp"),
        chr(pmod(col("p_partkey"), lit(26)) + 65).as("key_chr"),
        hex(col("p_size")).as("size_hex"),
        bin(col("p_size")).as("size_bin"),
        regexp_extract(col("p_brand"), "Brand#(\\d+)", 1).as("brand_no"),
        split_part(col("p_type"), lit(" "), lit(1)).as("type_first"),
        translate(col("p_brand"), "#B", "_b").as("brand_tr"),
        repeat(col("p_brand"), 2).as("brand_x2"),
        levenshtein(col("p_brand"), col("p_type")).as("edit_dist"),
        instr(col("p_name"), "a").as("a_pos"),
        substring_index(col("p_type"), " ", 2).as("type_first2"))
    },

    // ---- Math / trig / log -------------------------------------------
    Query("q19_math_functions",
      """SELECT p_partkey,
        |  CAST(sign(p_size - 25) AS INT) AS sgn,
        |  round(sin(CAST(p_size AS DOUBLE)), 6) AS sin_x,
        |  round(cos(CAST(p_size AS DOUBLE)), 6) AS cos_x,
        |  round(tan(CAST(p_size AS DOUBLE)), 6) AS tan_x,
        |  round(atan(CAST(p_size AS DOUBLE)), 6) AS atan_x,
        |  round(atan2(CAST(p_size AS DOUBLE), 2.0), 6) AS atan2_x,
        |  round(degrees(CAST(p_size AS DOUBLE)), 6) AS deg_x,
        |  round(radians(CAST(p_size AS DOUBLE)), 6) AS rad_x,
        |  round(ln(p_size + 1), 6) AS ln_x,
        |  round(log10(p_size + 1), 6) AS log10_x,
        |  round(log2(p_size + 1), 6) AS log2_x,
        |  round(log(3.0, p_size + 1), 6) AS log3_x,
        |  round(exp(p_size / 10.0), 6) AS exp_x,
        |  round(pow(p_size, 1.5), 6) AS pow_x,
        |  round(cbrt(CAST(p_size AS DOUBLE)), 6) AS cbrt_x,
        |  CAST(factorial(CAST(LEAST(p_size, 15) AS INT)) AS BIGINT) AS fact_x
        |FROM part""".stripMargin) { (s, dir) =>
      val p = Tables.load(s, dir, "part")
      val x = col("p_size").cast("double")
      def r6(c: Column) = round(c, 6)
      p.select(
        col("p_partkey"),
        signum(col("p_size") - 25).cast("int").as("sgn"),
        r6(sin(x)).as("sin_x"), r6(cos(x)).as("cos_x"), r6(tan(x)).as("tan_x"),
        r6(atan(x)).as("atan_x"), r6(atan2(x, lit(2.0))).as("atan2_x"),
        r6(degrees(x)).as("deg_x"), r6(radians(x)).as("rad_x"),
        r6(log(x + 1)).as("ln_x"), r6(log10(x + 1)).as("log10_x"),
        r6(log2(x + 1)).as("log2_x"), r6(log(3.0, x + 1)).as("log3_x"),
        r6(exp(x / 10)).as("exp_x"), r6(pow(x, 1.5)).as("pow_x"),
        r6(cbrt(x)).as("cbrt_x"),
        factorial(least(col("p_size"), lit(15)).cast("int")).as("fact_x"))
    },

    // ---- Statistical aggregates + ordered LISTAGG --------------------
    Query("q30_agg_stats",
      """SELECT l_returnflag,
        |  round(stddev_samp(l_quantity), 6) AS sd_qty,
        |  round(var_samp(l_quantity), 6) AS var_qty,
        |  round(stddev_pop(l_quantity), 6) AS sdp_qty,
        |  round(corr(l_quantity, l_extendedprice), 6) AS corr_qp,
        |  round(covar_samp(l_quantity, l_discount), 6) AS cov_qd,
        |  median(l_quantity) AS med_qty,
        |  MIN(l_shipdate) AS first_ship,
        |  MAX(l_shipdate) AS last_ship
        |FROM lineitem GROUP BY l_returnflag""".stripMargin) { (s, dir) =>
      val li = Tables.load(s, dir, "lineitem")
      li.groupBy(col("l_returnflag"))
        .agg(
          round(stddev_samp(col("l_quantity")), 6).as("sd_qty"),
          round(var_samp(col("l_quantity")), 6).as("var_qty"),
          round(stddev_pop(col("l_quantity")), 6).as("sdp_qty"),
          round(corr(col("l_quantity"), col("l_extendedprice")), 6).as("corr_qp"),
          round(covar_samp(col("l_quantity"), col("l_discount")), 6).as("cov_qd"),
          median(col("l_quantity")).as("med_qty"),
          min(col("l_shipdate")).as("first_ship"),
          max(col("l_shipdate")).as("last_ship"))
    },

    Query("q32_listagg",
      """SELECT r_name,
        |  string_agg(n_name, ',' ORDER BY n_name) AS nations,
        |  COUNT(*) AS n_nations
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name""".stripMargin) { (s, dir) =>
      val n = Tables.load(s, dir, "nation")
      val r = Tables.load(s, dir, "region")
      n.join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(concat_ws(",", array_sort(collect_list(col("n_name")))).as("nations"),
             count(lit(1)).as("n_nations"))
    },

    // ---- Lookup join — SURVEY §2.3 LookupJoin ------------------------
    // Fact rows probe a keyed dim; on a cluster the dim is broadcast
    // (or an external KV store per partition); Spark form: broadcast
    // hash join, zero shuffle on the fact side.
    Query("q33_lookup_join",
      """SELECT l_orderkey, l_linenumber, p_brand,
        |  CAST(CAST(l_extendedprice - p_retailprice * l_quantity AS DECIMAL(22,6)) AS DOUBLE) AS margin
        |FROM lineitem LEFT JOIN part ON l_partkey = p_partkey""".stripMargin) { (s, dir) =>
      val li = Tables.load(s, dir, "lineitem")
      val p  = Tables.load(s, dir, "part")
      li.join(broadcast(p), col("l_partkey") === col("p_partkey"), "left_outer")
        .select(col("l_orderkey"), col("l_linenumber"), col("p_brand"),
          dec6(col("l_extendedprice") - col("p_retailprice") * col("l_quantity"))
            .cast("double").as("margin"))
    }
  )
}
