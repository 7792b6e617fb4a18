package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.etl.MultiSourceAdEtl
import Tables._

/** The reference-surface operators (SURVEY §2) exercised over the driver's
  * testdata tables so the DuckDB oracle can check them: null-keeping
  * anti-filter (P8), metadata capitalize (P2), schema conform with typed
  * nulls + casts (P4–P6), UNION ALL of conformed branches (U1), min/max
  * date aggregation (A1), Excel-serial date math (E13), regex
  * replace/extract/contains (E4/E6/E8), conditionals (P9).
  */
object EtlSurface {

  /** The flagship reference pipelines end-to-end (read → detect → clean →
    * standardize → merge) over the deterministic fixture CSVs, one entry
    * `etl_pipeline_<name>` per shipped config in Configs.all (which also
    * says whether the pipeline capitalizes). Rows are ordered by Source,
    * then `A1.dateColumn` of the standard schema — the column the exported
    * file name's date range reads. All five are hash-checked cross-engine:
    * the oracles below replay the same CSVs through DuckDB read_csv + the
    * same clean/rename/conform/union (the fixtures are pure CSV, and
    * Verify materializes them before the DuckDB oracle pass runs).
    */
  private val pipelines: Map[String, Q] = graft.etl.Configs.all.map {
    case (name, (cfg, capitalize)) =>
      val day = graft.util.A1.dateColumn(cfg.standardSchema)
      s"etl_pipeline_$name" -> ((s: org.apache.spark.sql.SparkSession, _: String) =>
        new MultiSourceAdEtl(cfg)
          .run(s, graft.etl.Fixtures.materialize(name), capitalize)
          .orderBy("Source", day))
  }

  val queries: Map[String, Q] = pipelines ++ Map(
    // P8/E1: Polars `remove` translation — rows with a NULL predicate are
    // KEPT (filter(!coalesce(pred, false))), via the engine's removeRows.
    "etl_remove_prefix" -> ((s, d) => {
      val ev = Tables.events(s, d)
      MultiSourceAdEtl.removeRows(ev, ev("event_type").startsWith("c"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("cnt"))
        .orderBy("event_type")
    }),

    // P2: metadata-level column-name capitalize (first upper, rest lower).
    "etl_capitalize_names" -> ((s, d) => {
      val n = t(s, d, "nation")
      n.toDF(n.columns.map(MultiSourceAdEtl.capitalizeName).toIndexedSeq: _*)
        .orderBy("N_nationkey")
    }),

    // P4–P6: conform to a declared schema — missing column as typed null,
    // extras dropped, order forced, every column cast. One Project, via the
    // engine's own conform helper so the corpus exercises the real code path.
    "etl_conform_schema" -> ((s, d) => {
      val declared = StructType(Seq(
        StructField("p_partkey", LongType), StructField("p_name", StringType),
        StructField("p_size", LongType), StructField("p_retailprice", DoubleType),
        StructField("discontinued", StringType)))
      MultiSourceAdEtl.conformTo(t(s, d, "part"), declared).orderBy("p_partkey")
    }),

    // U1: UNION ALL of two independently-conformed branches, then agg.
    "etl_union_conform" -> ((s, d) => {
      val o = t(s, d, "orders")
      val open = o.filter(col("o_orderstatus") === "O")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      val done = o.filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey"), col("o_orderstatus"),
          lit(null).cast(DoubleType).as("o_totalprice"))
      // price sum in exact integer cents (2-dp data): the double sum hits
      // 1.2e12 at sf10, where accumulated ulp flips the rounded cent with
      // summation order — the q1_agg/e_forward_fill class
      open.unionByName(done)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("cnt"),
          (sum(coalesce(round(col("o_totalprice") * 100).cast("bigint"), lit(0L)))
            .cast("double") / 100.0).as("sum_price"))
        .orderBy("o_orderstatus")
    }),

    // A1/A2: full-column min/max date aggregation (the filename-range op).
    "etl_minmax_date" -> ((s, d) =>
      t(s, d, "orders").agg(
        min(to_date(col("o_orderdate"))).as("min_day"),
        max(to_date(col("o_orderdate"))).as("max_day"))),

    // E13: Date → Excel serial (days since 1899-12-30), as the Sheets sink does.
    "etl_excel_serial" -> ((s, d) =>
      t(s, d, "orders")
        .withColumn("serial",
          datediff(to_date(col("o_orderdate")), to_date(lit("1899-12-30"))).cast("bigint"))
        .groupBy("o_orderstatus")
        .agg(min("serial").as("min_serial"), max("serial").as("max_serial"),
          count(lit(1)).as("cnt"))
        .orderBy("o_orderstatus")),

    // E4/E2: regexp_replace incl. anchored literal-suffix strip.
    "etl_regex_replace" -> ((s, d) =>
      t(s, d, "part")
        .withColumn("name_norm",
          regexp_replace(regexp_replace(col("p_name"), "\\s+", " "), " (gizmo|widget)$", " item"))
        .groupBy("name_norm")
        .agg(count(lit(1)).as("cnt"))
        .orderBy("name_norm")),

    // E6/E7: null-on-no-match extraction (nullif-wrapped regexp_extract) +
    // null test branching (P10).
    "etl_regex_extract" -> ((s, d) =>
      t(s, d, "part")
        .withColumn("brand_num",
          nullif(regexp_extract(col("p_brand"), "Brand#(\\d+)", 1), lit("")).cast("bigint"))
        .withColumn("bucket",
          when(col("brand_num").isNull, lit("none"))
            .when(col("brand_num") < 10, lit("low"))
            .otherwise(lit("high")))
        .groupBy("bucket")
        .agg(count(lit(1)).as("cnt"), min("brand_num").as("min_num"), max("brand_num").as("max_num"))
        .orderBy("bucket")),

    // E8/P9: regex containment + multi-branch conditional.
    "etl_rlike_case" -> ((s, d) =>
      t(s, d, "part")
        .withColumn("kind",
          when(col("p_type").rlike("^(ECONOMY|STANDARD)$"), lit("basic"))
            .when(col("p_type").rlike("PROMO"), lit("promo"))
            .otherwise(lit("other")))
        .groupBy("kind")
        .agg(count(lit(1)).as("cnt"))
        .orderBy("kind"))
  )

  // The pipeline fixtures live at the SAME repo-resident path
  // Fixtures.materialize writes (and which is checked in), so the pure-CSV
  // pipelines can be replayed cross-engine via read_csv — the flagship
  // read → detect → clean → standardize → merge contract hash-checked
  // end-to-end, not just row-counted — without depending on tmpdir
  // lifetime or on the Spark side having run in the same container.
  private val fixDir = graft.etl.Fixtures.root

  val oracles: Map[String, String] = Map(
    // apsl: all 5 sources with the capitalize step — capitalize only
    // changes which RAW header each mapping key refers to, so the oracle
    // reads raw headers directly and aliases straight to the standard
    // names. TikTok: Total-row remove keeps the empty-By-Day row (null
    // predicate), whose Day conforms to NULL DATE. X's "Average
    // Frequency" '-' placeholder is cleaned but unmapped → dropped.
    "etl_pipeline_apsl" ->
      s"""WITH meta_raw AS (SELECT * FROM read_csv('$fixDir/apsl/meta.csv', header=true)),
         |mo_raw AS (SELECT * FROM read_csv('$fixDir/apsl/meta_olive.csv', header=true)),
         |ml_raw AS (SELECT * FROM read_csv('$fixDir/apsl/meta_lead.csv', header=true)),
         |tt_raw AS (SELECT * FROM read_csv('$fixDir/apsl/tiktok.csv', header=true)),
         |x_raw AS (SELECT * FROM read_csv('$fixDir/apsl/x.csv', header=true)),
         |tt_clean AS (SELECT * FROM tt_raw
         |             WHERE NOT coalesce("By Day" LIKE 'Total%', false)),
         |meta AS (SELECT
         |  CAST("Day" AS DATE) AS "Day", 'Meta' AS "Source",
         |  CAST("Account Name" AS VARCHAR) AS "Account name",
         |  CAST("Campaign Name" AS VARCHAR) AS "Campaign name",
         |  CAST("Ad Set Name" AS VARCHAR) AS "Ad set name",
         |  CAST("Ad Name" AS VARCHAR) AS "Ad name",
         |  CAST("Amount Spent (USD)" AS DOUBLE) AS "Amount spent (USD)",
         |  CAST("Impressions" AS BIGINT) AS "Impressions",
         |  CAST("Reach" AS BIGINT) AS "Reach",
         |  CAST("Frequency" AS DOUBLE) AS "Frequency",
         |  CAST("Link Clicks" AS BIGINT) AS "Link clicks",
         |  CAST("Registrations Completed" AS BIGINT) AS "Registrations completed",
         |  CAST("Adds To Cart" AS BIGINT) AS "Adds to cart",
         |  CAST("Checkouts Initiated" AS BIGINT) AS "Checkouts initiated",
         |  CAST("Purchases" AS BIGINT) AS "Purchases",
         |  CAST("Purchases Conversion Value" AS DOUBLE) AS "Purchases conversion value",
         |  CAST(NULL AS BIGINT) AS "Leads"
         |  FROM meta_raw),
         |mo AS (SELECT
         |  CAST("Day" AS DATE) AS "Day", 'Meta_OLIVE' AS "Source",
         |  CAST(NULL AS VARCHAR) AS "Account name",
         |  CAST("Campaign Name" AS VARCHAR) AS "Campaign name",
         |  CAST("Ad Set Name" AS VARCHAR) AS "Ad set name",
         |  CAST("Ad Name" AS VARCHAR) AS "Ad name",
         |  CAST("Amount Spent (USD)" AS DOUBLE) AS "Amount spent (USD)",
         |  CAST("Impressions" AS BIGINT) AS "Impressions",
         |  CAST("Reach" AS BIGINT) AS "Reach",
         |  CAST("Frequency" AS DOUBLE) AS "Frequency",
         |  CAST("Link Clicks" AS BIGINT) AS "Link clicks",
         |  CAST(NULL AS BIGINT) AS "Registrations completed",
         |  CAST("Adds To Cart With Shared Items" AS BIGINT) AS "Adds to cart",
         |  CAST(NULL AS BIGINT) AS "Checkouts initiated",
         |  CAST("Purchases With Shared Items" AS BIGINT) AS "Purchases",
         |  CAST("Purchases Conversion Value For Shared Items Only" AS DOUBLE)
         |    AS "Purchases conversion value",
         |  CAST(NULL AS BIGINT) AS "Leads"
         |  FROM mo_raw),
         |ml AS (SELECT
         |  CAST("Day" AS DATE) AS "Day", 'Meta_Lead' AS "Source",
         |  CAST(NULL AS VARCHAR) AS "Account name",
         |  CAST("Campaign Name" AS VARCHAR) AS "Campaign name",
         |  CAST("Ad Set Name" AS VARCHAR) AS "Ad set name",
         |  CAST("Ad Name" AS VARCHAR) AS "Ad name",
         |  CAST("Amount Spent (USD)" AS DOUBLE) AS "Amount spent (USD)",
         |  CAST("Impressions" AS BIGINT) AS "Impressions",
         |  CAST("Reach" AS BIGINT) AS "Reach",
         |  CAST("Frequency" AS DOUBLE) AS "Frequency",
         |  CAST("Link Clicks" AS BIGINT) AS "Link clicks",
         |  CAST(NULL AS BIGINT) AS "Registrations completed",
         |  CAST(NULL AS BIGINT) AS "Adds to cart",
         |  CAST(NULL AS BIGINT) AS "Checkouts initiated",
         |  CAST(NULL AS BIGINT) AS "Purchases",
         |  CAST(NULL AS DOUBLE) AS "Purchases conversion value",
         |  CAST("Leads" AS BIGINT) AS "Leads"
         |  FROM ml_raw),
         |x AS (SELECT
         |  CAST("Time Period" AS DATE) AS "Day", 'X (Twitter)' AS "Source",
         |  CAST("Funding Source Name" AS VARCHAR) AS "Account name",
         |  CAST("Campaign Name" AS VARCHAR) AS "Campaign name",
         |  CAST("Ad Group Name" AS VARCHAR) AS "Ad set name",
         |  CAST(NULL AS VARCHAR) AS "Ad name",
         |  CAST("Spend" AS DOUBLE) AS "Amount spent (USD)",
         |  CAST("Impressions" AS BIGINT) AS "Impressions",
         |  CAST(NULL AS BIGINT) AS "Reach",
         |  CAST(NULL AS DOUBLE) AS "Frequency",
         |  CAST("Link Clicks" AS BIGINT) AS "Link clicks",
         |  CAST("Leads" AS BIGINT) AS "Registrations completed",
         |  CAST("Cart Additions" AS BIGINT) AS "Adds to cart",
         |  CAST("Checkouts Initiated" AS BIGINT) AS "Checkouts initiated",
         |  CAST("Purchases" AS BIGINT) AS "Purchases",
         |  CAST("Purchases - Sale Amount" AS DOUBLE) AS "Purchases conversion value",
         |  CAST(NULL AS BIGINT) AS "Leads"
         |  FROM x_raw),
         |tt AS (SELECT
         |  CAST("By Day" AS DATE) AS "Day", 'TikTok' AS "Source",
         |  CAST("Account Name" AS VARCHAR) AS "Account name",
         |  CAST("Campaign Name" AS VARCHAR) AS "Campaign name",
         |  CAST("Ad Group Name" AS VARCHAR) AS "Ad set name",
         |  CAST("Ad Name" AS VARCHAR) AS "Ad name",
         |  CAST("Cost" AS DOUBLE) AS "Amount spent (USD)",
         |  CAST("Impressions" AS BIGINT) AS "Impressions",
         |  CAST("Reach" AS BIGINT) AS "Reach",
         |  CAST("Frequency" AS DOUBLE) AS "Frequency",
         |  CAST("Clicks (Destination)" AS BIGINT) AS "Link clicks",
         |  CAST(NULL AS BIGINT) AS "Registrations completed",
         |  CAST("Adds To Cart (Website)" AS BIGINT) AS "Adds to cart",
         |  CAST("Checkouts Initiated (Website)" AS BIGINT) AS "Checkouts initiated",
         |  CAST("Purchases (Website)" AS BIGINT) AS "Purchases",
         |  CAST("Purchase Value (Website)" AS DOUBLE) AS "Purchases conversion value",
         |  CAST(NULL AS BIGINT) AS "Leads"
         |  FROM tt_clean)
         |SELECT * FROM meta UNION ALL SELECT * FROM mo UNION ALL SELECT * FROM ml
         |UNION ALL SELECT * FROM x UNION ALL SELECT * FROM tt
         |ORDER BY "Source", "Day"""".stripMargin,

    // like_eat: Korean Meta export + Naver GFA with BOTH cleaners replayed
    // in SQL — the combined age-and-gender split (whitespace collapse,
    // dash unification, '세' strip, range/'이상'/'모름' branches) and the
    // dotted-date normalize. DuckDB regexp_replace needs the explicit 'g'
    // flag to match Spark's replace-all semantics.
    "etl_pipeline_like_eat" ->
      s"""WITH mn_raw AS (SELECT * FROM read_csv('$fixDir/like_eat/meta_naver.csv', header=true)),
         |gfa_raw AS (SELECT * FROM read_csv('$fixDir/like_eat/naver_gfa.csv', header=true)),
         |gfa_s AS (SELECT *,
         |    trim(regexp_replace(CAST("연령 및 성별" AS VARCHAR), '\\s+', ' ', 'g')) AS s
         |  FROM gfa_raw),
         |gfa_age AS (SELECT *,
         |    regexp_replace(regexp_replace(s, '[~–—]', '-', 'g'), '\\s*세\\s*', '', 'g') AS sage
         |  FROM gfa_s),
         |gfa_cl AS (SELECT *,
         |    regexp_replace(nullif(regexp_extract(sage, '(\\d{1,2})\\s*-\\s*(\\d{1,2})', 0), ''),
         |      '\\s*-\\s*', '-', 'g') AS age_range,
         |    nullif(regexp_extract(sage, '(\\d{1,2})\\s*이상', 1), '') AS age_plus
         |  FROM gfa_age),
         |mn AS (SELECT
         |  'Meta_naver' AS "Source", CAST("일" AS DATE) AS "일",
         |  CAST("캠페인 이름" AS VARCHAR) AS "캠페인 이름",
         |  CAST("광고 세트 이름" AS VARCHAR) AS "광고 세트 이름",
         |  CAST("광고 이름" AS VARCHAR) AS "광고 이름",
         |  CAST(NULL AS VARCHAR) AS "성",
         |  CAST(NULL AS VARCHAR) AS "연령",
         |  CAST("웹사이트 URL" AS VARCHAR) AS "웹사이트 URL",
         |  CAST("지출 금액 (KRW)" AS DOUBLE) AS "지출 금액 (KRW)",
         |  CAST("노출" AS BIGINT) AS "노출",
         |  CAST("빈도" AS DOUBLE) AS "빈도",
         |  CAST("도달" AS BIGINT) AS "도달",
         |  CAST("링크 클릭" AS BIGINT) AS "링크 클릭",
         |  CAST("공유 항목이 포함된 장바구니에 담기" AS BIGINT) AS "장바구니 담기",
         |  CAST("공유 항목이 포함된 구매" AS BIGINT) AS "구매",
         |  CAST("공유 항목의 구매 전환값" AS DOUBLE) AS "구매 전환값",
         |  CAST("동영상 25% 재생" AS BIGINT) AS "동영상 25% 재생",
         |  CAST("동영상 50% 재생" AS BIGINT) AS "동영상 50% 재생",
         |  CAST("동영상 75% 재생" AS BIGINT) AS "동영상 75% 재생",
         |  CAST("동영상 95% 재생" AS BIGINT) AS "동영상 95% 재생",
         |  CAST("동영상 100% 재생" AS BIGINT) AS "동영상 100% 재생",
         |  CAST("동영상 재생" AS BIGINT) AS "동영상 재생",
         |  CAST("ThruPlay" AS BIGINT) AS "ThruPlay"
         |  FROM mn_raw),
         |gfa AS (SELECT
         |  'Naver_GFA' AS "Source",
         |  CAST(regexp_replace(regexp_replace(trim(CAST("기간" AS VARCHAR)), '\\.$$', ''),
         |    '\\.', '-', 'g') AS DATE) AS "일",
         |  CAST("캠페인 이름" AS VARCHAR) AS "캠페인 이름",
         |  CAST("애셋 그룹 이름" AS VARCHAR) AS "광고 세트 이름",
         |  CAST(NULL AS VARCHAR) AS "광고 이름",
         |  CASE WHEN regexp_matches(s, '성별모름') THEN 'unknown'
         |       WHEN regexp_matches(s, '남자|남성') THEN 'male'
         |       WHEN regexp_matches(s, '여자|여성') THEN 'female'
         |       ELSE 'unknown' END AS "성",
         |  CASE WHEN regexp_matches(s, '연령모름') THEN 'unknown'
         |       WHEN age_range IS NOT NULL THEN age_range
         |       WHEN age_plus IS NOT NULL THEN age_plus || '+'
         |       ELSE 'unknown' END AS "연령",
         |  CAST(NULL AS VARCHAR) AS "웹사이트 URL",
         |  CAST("총 비용" AS DOUBLE) AS "지출 금액 (KRW)",
         |  CAST("노출" AS BIGINT) AS "노출",
         |  CAST(NULL AS DOUBLE) AS "빈도",
         |  CAST(NULL AS BIGINT) AS "도달",
         |  CAST("클릭" AS BIGINT) AS "링크 클릭",
         |  CAST("장바구니 담기수" AS BIGINT) AS "장바구니 담기",
         |  CAST("구매완료수" AS BIGINT) AS "구매",
         |  CAST("구매완료 전환 매출액" AS DOUBLE) AS "구매 전환값",
         |  CAST(NULL AS BIGINT) AS "동영상 25% 재생",
         |  CAST(NULL AS BIGINT) AS "동영상 50% 재생",
         |  CAST(NULL AS BIGINT) AS "동영상 75% 재생",
         |  CAST(NULL AS BIGINT) AS "동영상 95% 재생",
         |  CAST(NULL AS BIGINT) AS "동영상 100% 재생",
         |  CAST(NULL AS BIGINT) AS "동영상 재생",
         |  CAST(NULL AS BIGINT) AS "ThruPlay"
         |  FROM gfa_cl)
         |SELECT * FROM mn UNION ALL SELECT * FROM gfa
         |ORDER BY "Source", "일"""".stripMargin,

    // podl: Meta + TikTok (Total-row remove with null-keep), no capitalize.
    // Each branch conforms to the declared schema (missing → typed NULL,
    // extras dropped, schema order, every column cast) exactly as
    // MultiSourceAdEtl.conformTo does in one projection.
    "etl_pipeline_podl" ->
      s"""WITH meta_raw AS (SELECT * FROM read_csv('$fixDir/podl/meta.csv', header=true)),
         |tt_raw AS (SELECT * FROM read_csv('$fixDir/podl/tiktok.csv', header=true)),
         |tt_clean AS (SELECT * FROM tt_raw
         |             WHERE NOT coalesce("By Day" LIKE 'Total%', false)),
         |meta AS (SELECT
         |  'Meta' AS "Source", CAST("Day" AS DATE) AS "Day",
         |  CAST("Campaign name" AS VARCHAR) AS "Campaign name",
         |  CAST("Ad Set Name" AS VARCHAR) AS "Ad Set Name",
         |  CAST("Ad name" AS VARCHAR) AS "Ad name",
         |  CAST("Gender" AS VARCHAR) AS "Gender",
         |  CAST("Age" AS VARCHAR) AS "Age",
         |  CAST(NULL AS VARCHAR) AS "Website URL",
         |  CAST("Amount spent (USD)" AS DOUBLE) AS "Amount spent (USD)",
         |  CAST("Impressions" AS BIGINT) AS "Impressions",
         |  CAST("Frequency" AS DOUBLE) AS "Frequency",
         |  CAST("Reach" AS BIGINT) AS "Reach",
         |  CAST("Unique outbound clicks" AS BIGINT) AS "Unique outbound clicks",
         |  CAST("Link clicks" AS BIGINT) AS "Link clicks",
         |  CAST("Video plays" AS BIGINT) AS "Video plays",
         |  CAST("Video plays at 25%" AS BIGINT) AS "Video plays at 25%",
         |  CAST("Video plays at 50%" AS BIGINT) AS "Video plays at 50%",
         |  CAST("Video plays at 75%" AS BIGINT) AS "Video plays at 75%",
         |  CAST("Video plays at 100%" AS BIGINT) AS "Video plays at 100%",
         |  CAST("Adds to cart" AS BIGINT) AS "Adds to cart",
         |  CAST("Checkouts Initiated" AS BIGINT) AS "Checkouts Initiated",
         |  CAST("Purchases" AS BIGINT) AS "Purchases",
         |  CAST("Purchases conversion value" AS DOUBLE) AS "Purchases conversion value"
         |  FROM meta_raw),
         |tt AS (SELECT
         |  'TikTok' AS "Source", CAST("By Day" AS DATE) AS "Day",
         |  CAST("Campaign name" AS VARCHAR) AS "Campaign name",
         |  CAST("Ad group name" AS VARCHAR) AS "Ad Set Name",
         |  CAST("Ad name" AS VARCHAR) AS "Ad name",
         |  CAST(NULL AS VARCHAR) AS "Gender",
         |  CAST(NULL AS VARCHAR) AS "Age",
         |  CAST(NULL AS VARCHAR) AS "Website URL",
         |  CAST("Cost" AS DOUBLE) AS "Amount spent (USD)",
         |  CAST("Impressions" AS BIGINT) AS "Impressions",
         |  CAST("Frequency" AS DOUBLE) AS "Frequency",
         |  CAST("Reach" AS BIGINT) AS "Reach",
         |  CAST(NULL AS BIGINT) AS "Unique outbound clicks",
         |  CAST("Clicks (destination)" AS BIGINT) AS "Link clicks",
         |  CAST("Video views" AS BIGINT) AS "Video plays",
         |  CAST("Video views at 25%" AS BIGINT) AS "Video plays at 25%",
         |  CAST("Video views at 50%" AS BIGINT) AS "Video plays at 50%",
         |  CAST("Video views at 75%" AS BIGINT) AS "Video plays at 75%",
         |  CAST("Video views at 100%" AS BIGINT) AS "Video plays at 100%",
         |  CAST("Adds to cart (website)" AS BIGINT) AS "Adds to cart",
         |  CAST("Checkouts initiated (website)" AS BIGINT) AS "Checkouts Initiated",
         |  CAST("Purchases (website)" AS BIGINT) AS "Purchases",
         |  CAST("Purchase value (website)" AS DOUBLE) AS "Purchases conversion value"
         |  FROM tt_clean)
         |SELECT * FROM meta UNION ALL SELECT * FROM tt
         |ORDER BY "Source", "Day"""".stripMargin,

    // mnb: Meta + X (Twitter) with the '-' → '0' Frequency cleaner on the
    // String-inferred "Average frequency" column.
    "etl_pipeline_mnb" ->
      s"""WITH meta_raw AS (SELECT * FROM read_csv('$fixDir/mnb/meta.csv', header=true)),
         |x_raw AS (SELECT * FROM read_csv('$fixDir/mnb/x.csv', header=true)),
         |meta AS (SELECT
         |  'Meta' AS "Source", CAST("Day" AS DATE) AS "Day",
         |  CAST("Campaign name" AS VARCHAR) AS "Campaign name",
         |  CAST("Ad Set Name" AS VARCHAR) AS "Ad Set Name",
         |  CAST("Ad name" AS VARCHAR) AS "Ad name",
         |  CAST("Gender" AS VARCHAR) AS "Gender",
         |  CAST("Age" AS VARCHAR) AS "Age",
         |  CAST("Link (ad settings)" AS VARCHAR) AS "Link (ad settings)",
         |  CAST("Amount spent (USD)" AS DOUBLE) AS "Amount spent (USD)",
         |  CAST("Impressions" AS BIGINT) AS "Impressions",
         |  CAST("Frequency" AS DOUBLE) AS "Frequency",
         |  CAST("Reach" AS BIGINT) AS "Reach",
         |  CAST("Clicks (all)" AS BIGINT) AS "Clicks (all)",
         |  CAST("ThruPlays" AS BIGINT) AS "ThruPlays",
         |  CAST("3-second video plays" AS BIGINT) AS "3-second video plays",
         |  CAST("Registrations Completed" AS BIGINT) AS "Registrations Completed",
         |  CAST("Purchases" AS BIGINT) AS "Purchases",
         |  CAST("Purchases conversion value" AS DOUBLE) AS "Purchases conversion value",
         |  CAST("Video plays" AS BIGINT) AS "Video plays"
         |  FROM meta_raw),
         |x AS (SELECT
         |  'X (Twitter)' AS "Source", CAST("Time period" AS DATE) AS "Day",
         |  CAST("Campaign name" AS VARCHAR) AS "Campaign name",
         |  CAST(NULL AS VARCHAR) AS "Ad Set Name",
         |  CAST(NULL AS VARCHAR) AS "Ad name",
         |  CAST(NULL AS VARCHAR) AS "Gender",
         |  CAST(NULL AS VARCHAR) AS "Age",
         |  CAST(NULL AS VARCHAR) AS "Link (ad settings)",
         |  CAST("Spend" AS DOUBLE) AS "Amount spent (USD)",
         |  CAST("Impressions" AS BIGINT) AS "Impressions",
         |  CAST(CASE WHEN "Average frequency" = '-' THEN '0'
         |       ELSE "Average frequency" END AS DOUBLE) AS "Frequency",
         |  CAST("Total audience reach" AS BIGINT) AS "Reach",
         |  CAST("Clicks" AS BIGINT) AS "Clicks (all)",
         |  CAST("Video completions" AS BIGINT) AS "ThruPlays",
         |  CAST("3s/100% video views" AS BIGINT) AS "3-second video plays",
         |  CAST("Leads" AS BIGINT) AS "Registrations Completed",
         |  CAST("Purchases" AS BIGINT) AS "Purchases",
         |  CAST("Purchases - sale amount" AS DOUBLE) AS "Purchases conversion value",
         |  CAST("Video views" AS BIGINT) AS "Video plays"
         |  FROM x_raw)
         |SELECT * FROM meta UNION ALL SELECT * FROM x
         |ORDER BY "Source", "Day"""".stripMargin,

    // kcon: currency-agnostic demo config — Meta + TikTok + X, spend kept
    // as a raw STRING next to its Currency column.
    "etl_pipeline_kcon" ->
      s"""WITH meta_raw AS (SELECT * FROM read_csv('$fixDir/kcon/meta.csv', header=true)),
         |tt_raw AS (SELECT * FROM read_csv('$fixDir/kcon/tiktok.csv', header=true)),
         |x_raw AS (SELECT * FROM read_csv('$fixDir/kcon/x.csv', header=true)),
         |meta AS (SELECT
         |  'Meta' AS "Source", CAST("Day" AS DATE) AS "Day",
         |  CAST("Campaign name" AS VARCHAR) AS "Campaign name",
         |  CAST("Ad Set Name" AS VARCHAR) AS "Ad Set Name",
         |  CAST("Ad name" AS VARCHAR) AS "Ad name",
         |  CAST("Age" AS VARCHAR) AS "Age",
         |  CAST("Gender" AS VARCHAR) AS "Gender",
         |  CAST("Amount spent (KRW)" AS VARCHAR) AS "Amount spent (Raw)",
         |  CAST("Currency" AS VARCHAR) AS "Currency",
         |  CAST("Impressions" AS BIGINT) AS "Impressions",
         |  CAST("Clicks (all)" AS BIGINT) AS "Clicks (all)",
         |  CAST("Link clicks" AS BIGINT) AS "Link clicks"
         |  FROM meta_raw),
         |tt AS (SELECT
         |  'TikTok' AS "Source", CAST("By Day" AS DATE) AS "Day",
         |  CAST("Campaign name" AS VARCHAR) AS "Campaign name",
         |  CAST("Ad group name" AS VARCHAR) AS "Ad Set Name",
         |  CAST("Ad name" AS VARCHAR) AS "Ad name",
         |  CAST("Age" AS VARCHAR) AS "Age",
         |  CAST("Gender" AS VARCHAR) AS "Gender",
         |  CAST("Cost" AS VARCHAR) AS "Amount spent (Raw)",
         |  CAST("Currency" AS VARCHAR) AS "Currency",
         |  CAST("Impressions" AS BIGINT) AS "Impressions",
         |  CAST("Clicks (all)" AS BIGINT) AS "Clicks (all)",
         |  CAST("Clicks (destination)" AS BIGINT) AS "Link clicks"
         |  FROM tt_raw),
         |x AS (SELECT
         |  'X (Twitter)' AS "Source", CAST("Time period" AS DATE) AS "Day",
         |  CAST("Campaign name" AS VARCHAR) AS "Campaign name",
         |  CAST("Ad Group name" AS VARCHAR) AS "Ad Set Name",
         |  CAST("Ad name" AS VARCHAR) AS "Ad name",
         |  CAST(NULL AS VARCHAR) AS "Age",
         |  CAST(NULL AS VARCHAR) AS "Gender",
         |  CAST("Spend" AS VARCHAR) AS "Amount spent (Raw)",
         |  CAST("Currency" AS VARCHAR) AS "Currency",
         |  CAST("Impressions" AS BIGINT) AS "Impressions",
         |  CAST("Clicks" AS BIGINT) AS "Clicks (all)",
         |  CAST("Link clicks" AS BIGINT) AS "Link clicks"
         |  FROM x_raw)
         |SELECT * FROM meta UNION ALL SELECT * FROM tt UNION ALL SELECT * FROM x
         |ORDER BY "Source", "Day"""".stripMargin,

    "etl_remove_prefix" ->
      """SELECT event_type, count(*) AS cnt FROM events
        |WHERE NOT coalesce(starts_with(event_type, 'c'), false)
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "etl_capitalize_names" ->
      """SELECT n_nationkey AS "N_nationkey", n_name AS "N_name", n_regionkey AS "N_regionkey"
        |FROM nation ORDER BY 1""".stripMargin,
    "etl_conform_schema" ->
      """SELECT p_partkey, p_name, CAST(p_size AS BIGINT) AS p_size, p_retailprice,
        |CAST(NULL AS VARCHAR) AS discontinued FROM part ORDER BY p_partkey""".stripMargin,
    "etl_union_conform" ->
      """SELECT o_orderstatus, count(*) AS cnt,
        |  CAST(sum(coalesce(CAST(round(o_totalprice * 100) AS BIGINT), 0)) AS BIGINT)
        |    / 100.0 AS sum_price
        |FROM (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders WHERE o_orderstatus = 'O'
        |  UNION ALL
        |  SELECT o_orderkey, o_orderstatus, CAST(NULL AS DOUBLE) AS o_totalprice
        |  FROM orders WHERE o_orderstatus = 'F')
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "etl_minmax_date" ->
      """SELECT min(CAST(o_orderdate AS DATE)) AS min_day,
        |max(CAST(o_orderdate AS DATE)) AS max_day FROM orders""".stripMargin,
    "etl_excel_serial" ->
      """SELECT o_orderstatus,
        |min(date_diff('day', DATE '1899-12-30', CAST(o_orderdate AS DATE))) AS min_serial,
        |max(date_diff('day', DATE '1899-12-30', CAST(o_orderdate AS DATE))) AS max_serial,
        |count(*) AS cnt
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "etl_regex_replace" ->
      """SELECT regexp_replace(regexp_replace(p_name, '[ \t\n\x0B\f\r]+', ' ', 'g'), ' (gizmo|widget)$', ' item') AS name_norm,
        |count(*) AS cnt FROM part GROUP BY 1 ORDER BY name_norm""".stripMargin,
    "etl_regex_extract" ->
      """WITH e AS (
        |  SELECT CAST(nullif(regexp_extract(p_brand, 'Brand#(\d+)', 1), '') AS BIGINT) AS brand_num
        |  FROM part)
        |SELECT CASE WHEN brand_num IS NULL THEN 'none'
        |            WHEN brand_num < 10 THEN 'low' ELSE 'high' END AS bucket,
        |count(*) AS cnt, min(brand_num) AS min_num, max(brand_num) AS max_num
        |FROM e GROUP BY 1 ORDER BY bucket""".stripMargin,
    "etl_rlike_case" ->
      """SELECT CASE WHEN regexp_matches(p_type, '^(ECONOMY|STANDARD)$') THEN 'basic'
        |            WHEN regexp_matches(p_type, 'PROMO') THEN 'promo'
        |            ELSE 'other' END AS kind, count(*) AS cnt
        |FROM part GROUP BY 1 ORDER BY kind""".stripMargin
  )
}
