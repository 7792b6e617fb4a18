package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Readers for the driver's synthetic parquet corpus (TESTDATA.md).
  * Every query takes `(spark, sfDir)` and reads only the tables it needs —
  * column pruning + filter pushdown then reach the parquet scans.
  */
object Tables {
  def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = spark.read.parquet(s"$dir/$name.parquet")
    // `__p_*` columns are Hive partition DIRECTORIES of the scaled lake
    // layouts (graft.ScaleUp `hive` mode) — physical layout metadata
    // duplicated from data columns, not logical schema. Dropping them here
    // keeps every corpus query layout-invariant (same plan, same oracle,
    // flat or partitioned); partition-PRUNED scans on `__p_*` are
    // exercised by LayoutSpec's guard and q_partition_prune. The drop is
    // a pure projection: column pruning still reaches the scan.
    val p = df.columns.filter(_.startsWith("__p_"))
    if (p.isEmpty) df else df.drop(p.toIndexedSeq: _*)
  }

  /** `events.ts` is parquet TIMESTAMP(NANOS), which Spark's vectorized
    * reader rejects — the SESSION must be built with
    * [[graft.GraftSession.parquetTimestamps]] (every
    * `GraftSession.builder` session is); this reader asserts that instead
    * of mutating shared conf mid-plan. A session built without them would
    * fail the scan or silently diverge from the DuckDB oracle's
    * naive-as-UTC epochs. The ns → µs downcast uses exact integer floor
    * division (`(ts - pmod(ts, 1000)) div 1000`), matching the
    * floor-based downcast other engines use — correct for pre-1970 values
    * too, with no double-precision loss on 18-digit nanosecond values.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    for ((k, v) <- graft.GraftSession.parquetTimestamps)
      require(spark.conf.getOption(k).contains(v),
        s"session must set $k=$v at build time (events.ts is parquet " +
          "TIMESTAMP(NANOS); tz-naive parquet ts must read as TIMESTAMP, not NTZ)")
    val raw = t(spark, dir, "events")
    raw.schema("ts").dataType match {
      // driver testdata: TIMESTAMP(NANOS) read as long ns → downcast
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(
          org.apache.spark.sql.functions.expr("(ts - pmod(ts, 1000)) div 1000")))
      // scaled-up datasets (graft.ScaleUp) carry µs timestamps already
      case _ => raw
    }
  }

  type Q = (SparkSession, String) => DataFrame

  /** Deterministic md5-48 stratum of an id column — the sub-corpus draw
    * that lets the heaviest operators be ORACLE-checked at 100× volume:
    * both engines filter the base table by the same draw before the
    * operator, which keeps the single-node DuckDB replay at ~1/p of the
    * corpus while the engine-only measurement still runs the full input.
    * Every stratum twin (`<base>_s<p>`) is its base entry built with
    * `stratum = Some(p)`. The twins use p = 41: prime and coprime to every
    * id-pattern modulus the corpus uses (dup planting %5, media kind %3,
    * ScaleUp's Base = 1.2e10 offsets), so the stratum is a uniform
    * unbiased sample at any SF. d_minhash_lsh_s37 cross-checks that
    * choice: if the 1-in-41 twins hid a bias class tied to the modulus,
    * an independent prime's draw over the same operator would disagree
    * with its own replay. The draw is the repo-standard md5-48 (first 12
    * hex chars of md5 of the DECIMAL id string — `CAST(id AS VARCHAR)` in
    * DuckDB, the identical text both engines render for integers).
    */
  def stratum(id: org.apache.spark.sql.Column, p: Int): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    conv(substring(md5(id.cast("string")), 1, 12), 16, 10)
      .cast("bigint") % p === 0
  }

  /** `df` restricted to the stratum of `idCol`; unchanged when `None`. */
  def inStratum(df: DataFrame, idCol: String, stratum: Option[Int]): DataFrame =
    stratum.fold(df)(p =>
      df.filter(Tables.stratum(org.apache.spark.sql.functions.col(idCol), p)))

  // ---- oracle-side renderers shared by the DuckDB replays. They are
  // spelled once here so that no two oracles can drift apart; none is
  // derived from an engine Column, which keeps the oracle independent.

  /** The same draw as a DuckDB SQL predicate over `idCol`. */
  def stratumSql(idCol: String, p: Int): String =
    s"CAST('0x' || substr(md5(CAST($idCol AS VARCHAR)), 1, 12) AS BIGINT) % $p = 0"

  /** The engine's cosine (GraftFunctions.cosineSim) of DuckDB list
    * expressions `x` and `y`, rounded to `dp` decimals — the oracles' one
    * spelling of it. `distance` rounds 1 − cosine instead. `nullOnZero`
    * wraps the norm product in NULLIF(…, 0), so a zero-norm side gives
    * NULL as the engine's expression does; without it the division by
    * zero follows DuckDB's own rule. */
  def cosSql(x: String, y: String, dp: Int, nullOnZero: Boolean = false,
      distance: Boolean = false): String = {
    val norms = s"sqrt(list_dot_product($x, $x)) * sqrt(list_dot_product($y, $y))"
    val den = if (nullOnZero) s"NULLIF($norms, 0)" else s"($norms)"
    s"round(${if (distance) "1 - " else ""}list_dot_product($x, $y) / $den, $dp)"
  }

  /** Text.normText in SQL: whitespace runs collapsed to one space, then
    * trimmed and lower-cased — the content every fingerprint and gram
    * draw hashes. `x` is any text expression. */
  def normTextSql(x: String): String =
    s"lower(trim(regexp_replace($x, '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')))"

  /** Body of the planted-duplicate corpus CTE (Dedup.corpusWithDups in
    * SQL): every document as id `doc_id * 2`, and every `doc_id % 5 = 0`
    * document once more as `doc_id * 2 + 1`, each carrying `cols`. A
    * stratum draws the BASE ids before planting, as the engine does. The
    * caller names the CTE and picks its MATERIALIZED hint. */
  def dupsSql(cols: String, stratum: Option[Int] = None): String = {
    val p = stratum.map(stratumSql("doc_id", _))
    s"""
       |  SELECT doc_id * 2 AS doc_id, $cols FROM documents${p.fold("")(" WHERE " + _)}
       |  UNION ALL
       |  SELECT doc_id * 2 + 1 AS doc_id, $cols FROM documents
       |  WHERE doc_id % 5 = 0${p.fold("")(" AND " + _)}""".stripMargin
  }

  /** Dedup.minhashPairsOf in SQL, over the `(doc_id, text)` CTE `input`:
    * md5-48 char-5-gram draw → seed-42 splitmix XOR minhash members
    * (constants interpolated from Sketches so Scala and SQL can never
    * drift) → 4-band signatures → distinct same-bucket candidates `cand`
    * → `near(id_a, id_b, est)`, est = the equal-member fraction. Callers
    * apply the est >= 0.7 verify. */
  def minhashPairCtesSql(input: String): String = {
    val cs = graft.functions.Sketches.minhashXorConstants(16, 42L)
      .mkString("[", ",", "]")
    s"""grams AS MATERIALIZED (
      |  SELECT doc_id, unnest(list_transform(range(0, greatest(length(text) - 4, 1)),
      |    i -> CAST('0x' || substr(md5(substr(text, CAST(i AS INT) + 1, 5)),
      |      1, 12) AS BIGINT))) AS h
      |  FROM $input),
      |mins AS (
      |  SELECT doc_id, j, min(xor(h, list_extract($cs, CAST(j AS INT) + 1))) AS m
      |  FROM grams CROSS JOIN range(0, 16) t(j) GROUP BY 1, 2),
      |sigs AS MATERIALIZED (
      |  SELECT doc_id, list(m ORDER BY j) AS mh FROM mins GROUP BY doc_id),
      |bands AS (
      |  SELECT doc_id, b,
      |    mh[CAST(4 * b + 1 AS INT)] AS m0, mh[CAST(4 * b + 2 AS INT)] AS m1,
      |    mh[CAST(4 * b + 3 AS INT)] AS m2, mh[CAST(4 * b + 4 AS INT)] AS m3
      |  FROM sigs CROSS JOIN range(0, 4) t(b)),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b
      |  FROM bands a JOIN bands c
      |    ON a.b = c.b AND a.m0 = c.m0 AND a.m1 = c.m1
      |    AND a.m2 = c.m2 AND a.m3 = c.m3
      |  WHERE a.doc_id < c.doc_id),
      |near AS (
      |  SELECT id_a, id_b,
      |    CAST(list_sum(list_transform(sa.mh, (x, i) ->
      |      CASE WHEN x = sb.mh[i] THEN 1 ELSE 0 END)) AS DOUBLE) / 16 AS est
      |  FROM cand JOIN sigs sa ON sa.doc_id = id_a
      |            JOIN sigs sb ON sb.doc_id = id_b)""".stripMargin
  }

  /** Dedup.connectedComponents in SQL over the edge CTE `p(src, dst)`:
    * self-loops in `e` let each round's min include the node's own label,
    * then six unrolled (neighbor-min, label-of-label) round pairs leave
    * the labels in `d6(v, lbl)`. A recursive CTE would accumulate the
    * full (node × reachable-smaller-label) closure; the unroll stays
    * O(V+E) per round and covers > 100 hops of diameter. `chk.guard` is
    * 0, or raises an error naming `name` if a seventh round still moves a
    * label; callers add it to an output column so an unconverged replay
    * fails loudly. */
  def labelMinCcSql(name: String): String = {
    def round(i: Int, from: String) =
      s"r$i AS (SELECT e.dst AS v, min(l.lbl) AS lbl FROM e JOIN $from l ON e.src = l.v GROUP BY e.dst)"
    val rounds = (1 to 6).map { i =>
      val mat = if (i == 6) " MATERIALIZED" else ""
      s"""${round(i, if (i == 1) "l0" else s"d${i - 1}")},
         |d$i AS$mat (SELECT a.v, least(a.lbl, coalesce(b.lbl, a.lbl)) AS lbl
         |       FROM r$i a LEFT JOIN r$i b ON a.lbl = b.v)""".stripMargin
    }
    s"""e AS MATERIALIZED (
      |  SELECT src, dst FROM p UNION SELECT dst, src FROM p
      |  UNION SELECT src, src FROM p UNION SELECT dst, dst FROM p),
      |l0 AS (SELECT dst AS v, min(src) AS lbl FROM e GROUP BY dst),
      |${rounds.mkString(",\n")},
      |${round(7, "d6")},
      |chk AS (SELECT CASE WHEN count(*) > 0 THEN error(
      |         '$name oracle: label-min replay NOT converged after the 6 unrolled rounds - deepen the unroll')
      |         ELSE 0 END AS guard
      |        FROM r7 JOIN d6 ON r7.v = d6.v WHERE r7.lbl < d6.lbl)""".stripMargin
  }
}
