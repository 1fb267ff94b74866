package graft.queries

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables._
import graft.SparkEntry.keyed
import graft.functions.Chmod

/** Geometric mean as a typed Aggregator (SURVEY.md §2d UDAF surface).
  *
  * Determinism: accumulates `round(ln(x)·1e12)` as exact Longs so the
  * result is independent of partition merge order (a raw double ln-sum
  * is not); ties in the 1e12 rounding can't occur because ln of the
  * input prices never lands on an exact .5 picometer boundary.
  */
object GeoMeanAgg extends Aggregator[Double, (Long, Long), Double] {
  def zero: (Long, Long) = (0L, 0L)
  def reduce(b: (Long, Long), x: Double): (Long, Long) =
    (b._1 + math.round(math.log(x) * 1e12), b._2 + 1)
  def merge(a: (Long, Long), b: (Long, Long)): (Long, Long) =
    (a._1 + b._1, a._2 + b._2)
  def finish(b: (Long, Long)): Double =
    if (b._2 == 0) Double.NaN else math.exp(b._1 / 1e12 / b._2)
  def bufferEncoder = Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)
  def outputEncoder = Encoders.scalaDouble
}

/** Scalar/generator function families (SURVEY.md §2g) + the UDAF. One
  * query per family touching many functions; every function used is the
  * codegen'd builtin, with UDFs only where §2 demands a UDF surface.
  */
object Scalars {
  type Q = (SparkSession, String) => DataFrame

  /** Symbolic-chmod UDF (reference semantics; see functions.Chmod). */
  private val chmodUdf = udf { (expr: String, base: Int) =>
    Chmod.applyExpr(expr, base, isDir = false).toOption.map(Chmod.toOctal)
  }

  val queries: Map[String, Q] = keyed(
    "fn_string" -> ((s, d) =>
      customer(s, d).select(
        col("c_custkey"),
        upper(col("c_name")).as("up"),
        lower(col("c_mktsegment")).as("lo"),
        trim(concat(lit("  "), col("c_name"), lit("  "))).as("tr"),
        substring(col("c_name"), 1, 8).as("sub"),
        concat_ws("-", col("c_name"), col("c_mktsegment")).as("cw"),
        length(col("c_name")).as("len"),
        lpad(col("c_custkey").cast(StringType), 12, "0").as("lp"),
        regexp_replace(col("c_name"), lit("Customer"), lit("Cust")).as("rep"),
        element_at(split(col("c_name"), "#"), 2).as("sp"),
        regexp_extract(col("c_name"), "([0-9]+)$", 1).as("re"),
        regexp_replace(col("c_mktsegment"), "[AEIOU]", "").as("rr"),
        levenshtein(col("c_mktsegment"), lit("BUILDING")).as("lev"))
        .orderBy("c_custkey")),

    "fn_datetime" -> ((s, d) =>
      orders(s, d).select(
        col("o_orderkey"),
        year(col("o_orderdate")).as("yr"),
        quarter(col("o_orderdate")).as("qtr"),
        month(col("o_orderdate")).as("mo"),
        dayofmonth(col("o_orderdate")).as("dy"),
        (dayofweek(col("o_orderdate")) - 1).as("dow"),
        to_date(date_trunc("month", col("o_orderdate"))).as("month_start"),
        date_add(to_date(col("o_orderdate")), 7).as("plus7"),
        datediff(to_date(col("o_orderdate")), to_date(lit("1995-01-01"))).as("days_since"),
        (unix_millis(col("o_orderdate").cast(TimestampType)) / 1000).cast(LongType).as("epoch_s"),
        make_date(lit(2020), month(col("o_orderdate")), dayofmonth(col("o_orderdate"))).as("md"))
        .orderBy("o_orderkey")),

    "fn_math" -> ((s, d) =>
      part(s, d).select(
        col("p_partkey"),
        round(col("p_retailprice"), 1).as("r1"),
        floor(col("p_retailprice")).cast(LongType).as("fl"),
        ceil(col("p_retailprice")).cast(LongType).as("cl"),
        round(abs(col("p_retailprice") - 1000), 4).as("ab"),
        pmod(col("p_partkey"), lit(7)).as("pm"),
        round(pow(col("p_size"), 1.5), 6).as("pw"),
        round(sqrt(col("p_retailprice")), 6).as("sq"),
        round(log(col("p_retailprice")), 6).as("lg"),
        round(log10(col("p_retailprice")), 6).as("l10"),
        signum(col("p_retailprice") - 1000).cast(IntegerType).as("sg"),
        greatest(col("p_size"), lit(25)).as("gr"),
        least(col("p_size"), lit(25)).as("ls"))
        .orderBy("p_partkey")),

    "fn_variant" -> ((s, d) =>
      // Spark 4's VARIANT type — the open-ended semi-structured column
      // (the modern form of scan_json_props' string probing): parse
      // once into the binary variant encoding, then typed-path
      // extraction. At 100 TB the win is parse-once + shredded storage
      // instead of per-query string re-parsing. Output columns are
      // extracted scalars (variant itself never crosses the gate —
      // engines disagree on its encoding).
      events(s, d).select(
        col("event_id"),
        try_variant_get(parse_json(col("props")), "$.k", "long").as("k"),
        try_variant_get(parse_json(col("props")), "$.k", "string").as("ks"),
        try_variant_get(parse_json(col("props")), "$.missing", "long").as("absent"))
        .orderBy("event_id")),

    "fn_url" -> ((s, d) =>
      // URL decomposition — crawl pipelines parse billions of these
      // (host for domain mixing, path for routing, params for tracking
      // strip). The URL is synthesized from columns so the oracle can
      // emit the KNOWN decomposition directly: the gate then proves
      // Spark's parse_url extracts exactly the constructed parts.
      customer(s, d)
        .withColumn("url",
          concat(lit("https://"), lower(col("c_mktsegment")), lit(".example.com/seg/"),
            col("c_custkey").cast(StringType), lit("?nk="), col("c_nationkey").cast(StringType),
            lit("&ref=mail")))
        .select(
          col("c_custkey"),
          parse_url(col("url"), lit("HOST")).as("host"),
          parse_url(col("url"), lit("PATH")).as("path"),
          parse_url(col("url"), lit("QUERY")).as("query"),
          parse_url(col("url"), lit("QUERY"), lit("nk")).as("nk"),
          parse_url(col("url"), lit("PROTOCOL")).as("proto"))
        .orderBy("c_custkey")),

    "fn_hash" -> ((s, d) =>
      // Cryptographic digest family — the primitives under every
      // fingerprint/bucket/split operator in the pipeline (md5 keys the
      // dedup survivors; sha256 is the content-address for distcp-style
      // integrity). Map-side, codegen'd. crc32/xxhash64 exist in Spark
      // but have no DuckDB twin, so they stay covered by the
      // determinism suite instead of this oracle.
      documents(s, d).select(
        col("doc_id"),
        md5(col("text")).as("h_md5"),
        sha2(col("text"), 256).as("h_sha256"),
        length(md5(col("text"))).as("md5_len"))
        .orderBy("doc_id")),

    "fn_bitwise" -> ((s, d) =>
      // Bit manipulation family over the key domain — mask/set/flip/
      // shift/popcount, the building blocks the engine's own bitmap and
      // hash kernels use. Pure map-side column arithmetic, codegen'd.
      part(s, d).select(
        col("p_partkey"),
        (col("p_partkey").bitwiseAND(lit(0xffL))).as("b_and"),
        (col("p_partkey").bitwiseOR(lit(0x100L))).as("b_or"),
        (col("p_partkey").bitwiseXOR(lit(0x55L))).as("b_xor"),
        shiftleft(col("p_partkey"), 3).as("b_shl"),
        shiftright(col("p_partkey"), 2).as("b_shr"),
        bitwise_not(col("p_partkey")).as("b_not"),
        bit_count(col("p_partkey")).cast(LongType).as("b_pop"))
        .orderBy("p_partkey")),

    "fn_array" -> ((s, d) =>
      embeddings(s, d).select(
        col("vec_id"),
        size(col("embedding")).as("dim"),
        round(aggregate(transform(col("embedding"), x => x.cast(DoubleType)),
          lit(0.0), (a, x) => a + x), 4).as("vsum"),
        round(array_max(col("embedding")).cast(DoubleType), 4).as("vmax"),
        size(filter(col("embedding"), x => x > 0)).as("n_pos"),
        size(array_distinct(col("embedding"))).as("n_uniq"),
        // Emitted as a ','-joined string of 1e4-scaled integers: the
        // driver's comparator cannot hash array cells, and integer
        // rendering (unlike double rendering) is engine-identical.
        array_join(transform(slice(col("embedding"), 1, 3),
          x => floor(x.cast(DoubleType) * 10000 + 0.5).cast(LongType).cast(StringType)),
          ",").as("first3"))
        .orderBy("vec_id")),

    "fn_map" -> { (s, d) =>
      // MapType machinery exercised Spark-side; emitted as sorted
      // keys/values arrays + one extracted scalar because raw MAP columns
      // surface differently in every client (decided at t2, SURVEY §2g).
      val per = events(s, d).groupBy("user_id", "event_type")
        .agg(count(lit(1)).as("cnt"))
      per.groupBy("user_id")
        .agg(map_from_entries(sort_array(collect_list(struct(col("event_type"), col("cnt")))))
          .as("m"))
        .select(
          col("user_id"),
          // ','-joined strings (not raw arrays): comparator-safe output.
          array_join(map_keys(col("m")), ",").as("types"),
          array_join(transform(map_values(col("m")), _.cast(StringType)), ",").as("counts"),
          try_element_at(col("m"), lit("click")).as("n_click"))
        .orderBy("user_id")
    },

    "fn_json" -> ((s, d) =>
      events(s, d)
        .withColumn("parsed", from_json(col("props"), StructType(Seq(StructField("k", LongType)))))
        .select(
          col("event_id"),
          get_json_object(col("props"), "$.k").cast(LongType).as("k_path"),
          col("parsed.k").as("k_struct"),
          to_json(struct(col("parsed.k").as("k"))).as("rt"))
        .orderBy("event_id")),

    "fn_explode" -> ((s, d) =>
      documents(s, d)
        .filter(col("doc_id") % 10 === 0)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
        .groupBy("doc_id", "word")
        .agg(count(lit(1)).as("n"))
        .orderBy("doc_id", "word")),

    "udf_chmod_parse" -> { (s, d) =>
      // Deterministic (expr, base-mode) pairs derived from custkey; the
      // chmod kernel is property-tested in ScalaTest, and the oracle
      // re-derives each of the 5 fixed expressions as plain bit
      // arithmetic — an independent SQL reimplementation cross-checking
      // the parser.
      val exprs = array(lit("u+rwx"), lit("g-w,o=r"), lit("a=rx"),
        lit("u=rw,g+x,o-rwx"), lit("u+X,g+s,o+t"))
      customer(s, d).select(
        col("c_custkey"),
        element_at(exprs, (col("c_custkey") % 5 + 1).cast(IntegerType)).as("chmod_expr"),
        (col("c_custkey") % 512).cast(IntegerType).as("base_mode"))
        .withColumn("result_octal", chmodUdf(col("chmod_expr"), col("base_mode")))
        .orderBy("c_custkey")
    },

    "udtf_ngrams" -> { (s, d) =>
      // Typed flatMap generator (Dataset UDTF surface): character
      // trigrams per document. Docs shorter than 3 chars are excluded
      // in BOTH engines — Scala's sliding(3) would emit the whole short
      // string once while the oracle's range() emits nothing (none
      // exist in this corpus, but the guard keeps the op corpus-proof).
      val sp = s
      import sp.implicits._
      documents(s, d).filter(length(col("text")) >= 3)
        .select("doc_id", "text").as[(Long, String)]
        .flatMap { case (id, text) => text.sliding(3).map(t => (id, t)) }
        .toDF("doc_id", "tri")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tri"), countDistinct(col("tri")).as("n_uniq_tri"))
        .orderBy("doc_id")
    },

    "agg_udaf_geomean" -> { (s, d) =>
      val geo = udaf(GeoMeanAgg)
      part(s, d).groupBy("p_brand")
        .agg(round(geo(col("p_retailprice")), 4).as("geomean_price"),
          count(lit(1)).as("n"))
        .orderBy("p_brand")
    }
  )

  val oracleSql: Map[String, String] = keyed(
    "fn_string" ->
      """SELECT c_custkey,
        |  upper(c_name) AS up, lower(c_mktsegment) AS lo,
        |  trim('  ' || c_name || '  ') AS tr,
        |  substring(c_name, 1, 8) AS sub,
        |  concat_ws('-', c_name, c_mktsegment) AS cw,
        |  CAST(length(c_name) AS INTEGER) AS len,
        |  lpad(CAST(c_custkey AS VARCHAR), 12, '0') AS lp,
        |  replace(c_name, 'Customer', 'Cust') AS rep,
        |  string_split(c_name, '#')[2] AS sp,
        |  regexp_extract(c_name, '([0-9]+)$', 1) AS re,
        |  regexp_replace(c_mktsegment, '[AEIOU]', '', 'g') AS rr,
        |  CAST(levenshtein(c_mktsegment, 'BUILDING') AS INTEGER) AS lev
        |FROM customer ORDER BY c_custkey""".stripMargin,

    "fn_datetime" ->
      """SELECT o_orderkey,
        |  CAST(year(o_orderdate) AS INTEGER) AS yr, CAST(quarter(o_orderdate) AS INTEGER) AS qtr,
        |  CAST(month(o_orderdate) AS INTEGER) AS mo, CAST(day(o_orderdate) AS INTEGER) AS dy,
        |  CAST(dayofweek(o_orderdate) AS INTEGER) AS dow,
        |  CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
        |  CAST(o_orderdate + INTERVAL 7 DAY AS DATE) AS plus7,
        |  CAST(datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS INTEGER) AS days_since,
        |  epoch_ms(o_orderdate) // 1000 AS epoch_s,
        |  make_date(2020, month(o_orderdate), day(o_orderdate)) AS md
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "fn_math" ->
      """SELECT p_partkey,
        |  round(p_retailprice, 1) AS r1,
        |  CAST(floor(p_retailprice) AS BIGINT) AS fl,
        |  CAST(ceil(p_retailprice) AS BIGINT) AS cl,
        |  round(abs(p_retailprice - 1000), 4) AS ab,
        |  p_partkey % 7 AS pm,
        |  round(pow(p_size, 1.5), 6) AS pw,
        |  round(sqrt(p_retailprice), 6) AS sq,
        |  round(ln(p_retailprice), 6) AS lg,
        |  round(log10(p_retailprice), 6) AS l10,
        |  CAST(sign(p_retailprice - 1000) AS INTEGER) AS sg,
        |  CAST(greatest(p_size, 25) AS INTEGER) AS gr, CAST(least(p_size, 25) AS INTEGER) AS ls
        |FROM part ORDER BY p_partkey""".stripMargin,

    "fn_variant" ->
      """SELECT event_id,
        |  CAST(json_extract(props, '$.k') AS BIGINT) AS k,
        |  json_extract_string(props, '$.k') AS ks,
        |  CAST(NULL AS BIGINT) AS absent
        |FROM events ORDER BY event_id""".stripMargin,

    // The oracle emits the construction's known parts directly — no URL
    // parser needed on the DuckDB side.
    "fn_url" ->
      """SELECT c_custkey,
        |  lower(c_mktsegment) || '.example.com' AS host,
        |  '/seg/' || CAST(c_custkey AS VARCHAR) AS path,
        |  'nk=' || CAST(c_nationkey AS VARCHAR) || '&ref=mail' AS query,
        |  CAST(c_nationkey AS VARCHAR) AS nk,
        |  'https' AS proto
        |FROM customer ORDER BY c_custkey""".stripMargin,

    "fn_hash" ->
      """SELECT doc_id, md5(text) AS h_md5, sha256(text) AS h_sha256,
        |  CAST(length(md5(text)) AS INTEGER) AS md5_len
        |FROM documents ORDER BY doc_id""".stripMargin,

    // DuckDB shifts/popcount: << >> return BIGINT for BIGINT input;
    // bit_count returns TINYINT — cast to match Spark's types.
    "fn_bitwise" ->
      """SELECT p_partkey,
        |  p_partkey & 255 AS b_and,
        |  p_partkey | 256 AS b_or,
        |  xor(p_partkey, 85) AS b_xor,
        |  p_partkey << 3 AS b_shl,
        |  p_partkey >> 2 AS b_shr,
        |  ~p_partkey AS b_not,
        |  CAST(bit_count(p_partkey) AS BIGINT) AS b_pop
        |FROM part ORDER BY p_partkey""".stripMargin,

    "fn_array" ->
      """SELECT vec_id,
        |  CAST(len(embedding) AS INTEGER) AS dim,
        |  round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |    list_transform(embedding, x -> CAST(x AS DOUBLE))), (a, x) -> a + x), 4) AS vsum,
        |  round(CAST(list_aggregate(embedding, 'max') AS DOUBLE), 4) AS vmax,
        |  CAST(len(list_filter(embedding, x -> x > 0)) AS INTEGER) AS n_pos,
        |  CAST(len(list_distinct(embedding)) AS INTEGER) AS n_uniq,
        |  array_to_string(list_transform(embedding[1:3],
        |    x -> CAST(CAST(floor(CAST(x AS DOUBLE) * 10000 + 0.5) AS BIGINT) AS VARCHAR)), ',') AS first3
        |FROM embeddings ORDER BY vec_id""".stripMargin,

    "fn_map" ->
      """WITH per AS (
        |  SELECT user_id, event_type, count(*) AS cnt FROM events
        |  GROUP BY user_id, event_type),
        |m AS (
        |  SELECT user_id,
        |    map(list(event_type ORDER BY event_type), list(cnt ORDER BY event_type)) AS m
        |  FROM per GROUP BY user_id)
        |SELECT user_id,
        |  array_to_string(map_keys(m), ',') AS types,
        |  array_to_string(list_transform(map_values(m), x -> CAST(x AS VARCHAR)), ',') AS counts,
        |  map_extract(m, 'click')[1] AS n_click
        |FROM m ORDER BY user_id""".stripMargin,

    "fn_json" ->
      """SELECT event_id,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_path,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_struct,
        |  CAST(to_json(struct_pack(k := CAST(json_extract_string(props, '$.k') AS BIGINT))) AS VARCHAR) AS rt
        |FROM events ORDER BY event_id""".stripMargin,

    "fn_explode" ->
      """SELECT doc_id, word, count(*) AS n FROM (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS word
        |  FROM documents WHERE doc_id % 10 = 0) t
        |GROUP BY doc_id, word ORDER BY doc_id, word""".stripMargin,

    // The 5 fixed symbolic-chmod expressions re-derived as bit
    // arithmetic (isDir=false, base < 512 so the setuid/sticky clears
    // in '='-clauses are no-ops): an independent check of Chmod.apply.
    //   u+rwx          → m | 0o700
    //   g-w,o=r        → ((m & ~0o020) & ~0o007) | 0o004
    //   a=rx           → 0o555
    //   u=rw,g+x,o-rwx → (((m & ~0o700) | 0o600) | 0o010) & ~0o007
    //   u+X,g+s,o+t    → m | (0o100 if m&0o111 else 0) | 0o2000 | 0o1000
    "udf_chmod_parse" ->
      """SELECT c_custkey,
        |  CASE c_custkey % 5 WHEN 0 THEN 'u+rwx' WHEN 1 THEN 'g-w,o=r'
        |    WHEN 2 THEN 'a=rx' WHEN 3 THEN 'u=rw,g+x,o-rwx'
        |    ELSE 'u+X,g+s,o+t' END AS chmod_expr,
        |  CAST(m AS INTEGER) AS base_mode,
        |  lpad(format('{:o}', CASE c_custkey % 5
        |    WHEN 0 THEN m | 448
        |    WHEN 1 THEN ((m & ~16) & ~7) | 4
        |    WHEN 2 THEN 365
        |    WHEN 3 THEN (((m & ~448) | 384) | 8) & ~7
        |    ELSE m | (CASE WHEN (m & 73) != 0 THEN 64 ELSE 0 END) | 1024 | 512
        |  END), 4, '0') AS result_octal
        |FROM (SELECT c_custkey, c_custkey % 512 AS m FROM customer) t
        |ORDER BY c_custkey""".stripMargin,

    "udtf_ngrams" ->
      """SELECT doc_id,
        |  CAST(length(text) - 2 AS BIGINT) AS n_tri,
        |  CAST(len(list_distinct(list_transform(range(length(text) - 2),
        |    i -> substring(text, CAST(i + 1 AS INTEGER), 3)))) AS BIGINT) AS n_uniq_tri
        |FROM documents WHERE length(text) >= 3 ORDER BY doc_id""".stripMargin,

    "agg_udaf_geomean" ->
      """SELECT p_brand,
        |  round(exp(sum(CAST(round(ln(p_retailprice) * 1e12, 0) AS BIGINT)) / 1e12 / count(*)), 4) AS geomean_price,
        |  count(*) AS n
        |FROM part GROUP BY p_brand ORDER BY p_brand""".stripMargin
  )
}
