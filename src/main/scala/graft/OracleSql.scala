package graft

import graft.sources.Adapters

/** DuckDB oracle SQL for every entry in [[SparkEntry.queries]].
  *
  * Each statement mirrors the Spark plan's EXACT scalar expression
  * trees (same operand order, same floor-based rounding — see
  * Funcs.rd/Funcs.scaled) so that double outputs are bit-identical,
  * not merely approximately equal.
  */
object OracleSql {

  /** rd(expr, scale) — deterministic rounding, mirrors Funcs.rd. */
  private def rd(expr: String, scale: Int): String = {
    val p = "1" + "0" * scale + ".0"
    s"FLOOR(($expr) * $p + 0.5) / $p"
  }

  /** A double-array literal whose elements BIT-MATCH the Scala
    * doubles: DuckDB's bare decimal literals go through DECIMAL and
    * its DECIMAL→DOUBLE cast is not correctly rounded (1-ulp off on
    * e.g. 0.9999985983672093), but CAST('…' AS DOUBLE) is, and
    * Double.toString round-trips — so string-cast every element. */
  private def dlist(vals: Seq[Double]): String =
    vals.map(v => s"CAST('$v' AS DOUBLE)").mkString("([", ", ", "])")

  /** mirrors Funcs.scaled(expr, s) — exact fixed-point long view. */
  private def sc(expr: String, scale: Int): String = {
    val p = "1" + "0" * scale + ".0"
    s"CAST(FLOOR(($expr) * $p + 0.5) AS BIGINT)"
  }
  private def sc4(expr: String): String = sc(expr, 4)

  /** mirrors Cohorts.markovAbsorption: `rounds` unrolled rounds of the
    * exact-integer absorption recursion at scale 1e9 over a
    * (removed, state) grid — aggregates are barred from recursive CTE
    * terms, so the bounded recursion unrolls as chained plain CTEs. */
  private def markovAttribSql(rounds: Int): String = {
    val head =
      s"""WITH ma_ev AS (
         |  SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events),
         |ma_sq AS MATERIALIZED (
         |  SELECT event_type,
         |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
         |    LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
         |  FROM ma_ev),
         |ma_trans AS MATERIALIZED (SELECT event_type AS cur, nxt, CAST(COUNT(*) AS BIGINT) AS n
         |  FROM ma_sq WHERE nxt IS NOT NULL GROUP BY cur, nxt),
         |ma_tot AS MATERIALIZED (SELECT cur, CAST(SUM(n) AS BIGINT) AS n_cur FROM ma_trans GROUP BY cur),
         |ma_starts AS MATERIALIZED (SELECT event_type AS st, CAST(COUNT(*) AS BIGINT) AS ns
         |  FROM ma_sq WHERE rn = 1 GROUP BY event_type),
         |ma_nu AS (SELECT CAST(SUM(ns) AS BIGINT) AS n_users FROM ma_starts),
         |ma_states AS MATERIALIZED (
         |  SELECT cur AS a FROM ma_trans UNION SELECT nxt FROM ma_trans
         |  UNION SELECT st FROM ma_starts),
         |ma_rem AS (SELECT CAST('none' AS VARCHAR) AS removed
         |  UNION ALL SELECT a FROM ma_states WHERE a <> 'purchase'),
         |ma_p0 AS MATERIALIZED (
         |  SELECT r.removed, s.a AS state,
         |    CAST(CASE WHEN s.a = 'purchase' THEN 1000000000 ELSE 0 END AS BIGINT) AS p
         |  FROM ma_rem r CROSS JOIN ma_states s)""".stripMargin
    val steps = (1 to rounds).map { k =>
      s"""ma_p$k AS MATERIALIZED (
         |  SELECT pk.removed, pk.state,
         |    CAST(CASE WHEN pk.state = 'purchase' THEN 1000000000
         |         WHEN pk.state = pk.removed THEN 0
         |         WHEN t.n_cur IS NULL THEN 0
         |         ELSE COALESCE(m.acc, 0) // t.n_cur END AS BIGINT) AS p
         |  FROM ma_p${k - 1} pk
         |  LEFT JOIN (
         |    SELECT pb.removed, tr.cur, SUM(tr.n * pb.p) AS acc
         |    FROM ma_trans tr JOIN ma_p${k - 1} pb ON pb.state = tr.nxt
         |    GROUP BY pb.removed, tr.cur) m
         |    ON m.removed = pk.removed AND m.cur = pk.state
         |  LEFT JOIN ma_tot t ON t.cur = pk.state)""".stripMargin
    }
    val tail =
      s"""ma_conv AS (
         |  SELECT p.removed,
         |    CAST(CAST(SUM(s.ns * p.p) AS BIGINT) // (SELECT n_users FROM ma_nu) AS BIGINT) AS conv9
         |  FROM ma_p$rounds p JOIN ma_starts s ON s.st = p.state
         |  GROUP BY p.removed),
         |ma_base AS (SELECT conv9 AS full9 FROM ma_conv WHERE removed = 'none'),
         |ma_ch AS (SELECT removed AS channel, conv9 FROM ma_conv WHERE removed <> 'none'),
         |ma_td AS (
         |  SELECT CAST(SUM(b.full9 - c.conv9) AS BIGINT) AS td
         |  FROM ma_ch c CROSS JOIN ma_base b)
         |SELECT c.channel,
         |  ${rd("CAST(b.full9 AS DOUBLE) / 1e9", 6)} AS p_conv_full,
         |  ${rd("CAST(c.conv9 AS DOUBLE) / 1e9", 6)} AS p_conv_removed,
         |  ${rd("CAST(b.full9 - c.conv9 AS DOUBLE) / NULLIF(CAST(b.full9 AS DOUBLE), 0)", 4)} AS removal_effect,
         |  ${rd("CAST(b.full9 - c.conv9 AS DOUBLE) / NULLIF(CAST(t.td AS DOUBLE), 0)", 4)} AS attribution_share
         |FROM ma_ch c CROSS JOIN ma_base b CROSS JOIN ma_td t
         |ORDER BY c.channel""".stripMargin
    (Seq(head) ++ steps :+ tail).mkString(",\n")
  }

  /** mirrors Graph.stronglyConnected over the intra-order part
    * sequence graph: `rounds` unrolled forward min-label rounds, the
    * color-restricted edge set, `rounds` unrolled backward
    * confirmation rounds — chained plain CTEs for the same reason as
    * [[markovAttribSql]]. */
  private def sccSql(rounds: Int, phases: Int): String = {
    // AS MATERIALIZED throughout: each round references the previous
    // round TWICE (the carry and the message join) — DuckDB inlines
    // plain CTEs, so without materialization the expression tree
    // doubles per round (2^rounds re-evaluations of the window base)
    val head =
      s"""WITH scc_sq AS MATERIALIZED (
         |  SELECT l_partkey AS src,
         |    LEAD(l_partkey) OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, l_partkey) AS dst
         |  FROM lineitem WHERE l_quantity >= 35),
         |scc_p1_e AS MATERIALIZED (SELECT DISTINCT CAST(src AS BIGINT) AS src, CAST(dst AS BIGINT) AS dst
         |  FROM scc_sq WHERE dst IS NOT NULL AND dst <> src),
         |scc_p1_f0 AS MATERIALIZED (
         |  SELECT id, id AS f FROM (SELECT src AS id FROM scc_p1_e UNION SELECT dst FROM scc_p1_e))""".stripMargin
    def phase(p: Int): Seq[String] = {
      val fwd = (1 to rounds).map { r =>
        s"""scc_p${p}_f$r AS MATERIALIZED (
           |  SELECT n.id, LEAST(n.f, COALESCE(m.mf, n.f)) AS f
           |  FROM scc_p${p}_f${r - 1} n LEFT JOIN (
           |    SELECT e.dst AS id, MIN(fp.f) AS mf
           |    FROM scc_p${p}_e e JOIN scc_p${p}_f${r - 1} fp ON e.src = fp.id
           |    GROUP BY e.dst) m USING (id))""".stripMargin
      }
      val mid =
        s"""scc_p${p}_ce AS MATERIALIZED (
           |  SELECT e.src, e.dst FROM scc_p${p}_e e
           |  JOIN scc_p${p}_f$rounds fa ON e.src = fa.id
           |  JOIN scc_p${p}_f$rounds fb ON e.dst = fb.id
           |  WHERE fa.f = fb.f),
           |scc_p${p}_r0 AS MATERIALIZED (SELECT id, f, (f = id) AS rc FROM scc_p${p}_f$rounds)""".stripMargin
      val bwd = (1 to rounds).map { r =>
        s"""scc_p${p}_r$r AS MATERIALIZED (
           |  SELECT a.id, a.f, (a.rc OR COALESCE(m.hit, false)) AS rc
           |  FROM scc_p${p}_r${r - 1} a LEFT JOIN (
           |    SELECT DISTINCT ce.src AS id, true AS hit
           |    FROM scc_p${p}_ce ce JOIN scc_p${p}_r${r - 1} b ON ce.dst = b.id AND b.rc) m USING (id))""".stripMargin
      }
      // peel: confirmed components leave, the remainder seeds phase p+1
      val next =
        if (p == phases) Nil
        else Seq(
          s"""scc_p${p}_rem AS MATERIALIZED (SELECT id FROM scc_p${p}_r$rounds WHERE NOT rc),
             |scc_p${p + 1}_e AS MATERIALIZED (
             |  SELECT e.src, e.dst FROM scc_p${p}_e e
             |  JOIN scc_p${p}_rem a ON e.src = a.id
             |  JOIN scc_p${p}_rem b ON e.dst = b.id),
             |scc_p${p + 1}_f0 AS MATERIALIZED (SELECT id, id AS f FROM scc_p${p}_rem)""".stripMargin)
      (fwd :+ mid) ++ bwd ++ next
    }
    val confirmed = (1 until phases).map(p =>
      s"SELECT id, f AS scc_id FROM scc_p${p}_r$rounds WHERE rc")
    val last =
      s"""SELECT id, CASE WHEN rc THEN f ELSE id END AS scc_id FROM scc_p${phases}_r$rounds"""
    val tail =
      s"""scc_out AS MATERIALIZED (
         |  ${(confirmed :+ last).mkString("\n  UNION ALL ")}),
         |scc_sizes AS (SELECT scc_id, CAST(COUNT(*) AS BIGINT) AS n_members
         |  FROM scc_out GROUP BY scc_id HAVING COUNT(*) >= 2)
         |SELECT o.scc_id, o.id, z.n_members
         |FROM scc_out o JOIN scc_sizes z USING (scc_id)
         |ORDER BY o.scc_id, o.id""".stripMargin
    (Seq(head) ++ (1 to phases).flatMap(phase)).mkString(",\n") + ",\n" + tail
  }

  // ── daily lane CTE chain ──────────────────────────────────────────

  private val returnsSql: String =
    s"""returns AS (
       |  SELECT symbol, trade_date, open_price, high_price, low_price, close_price, volume,
       |    LAG(close_price) OVER w AS prev_close_price,
       |    ${rd("(close_price - LAG(close_price) OVER w) / NULLIF(LAG(close_price) OVER w, 0) * 100", 4)} AS daily_return_pct,
       |    ${rd("high_price - low_price", 4)} AS intraday_range,
       |    ${rd("(high_price - low_price) / NULLIF(close_price, 0) * 100", 4)} AS intraday_range_pct,
       |    ${rd("open_price - LAG(close_price) OVER w", 4)} AS overnight_gap,
       |    CAST(ROW_NUMBER() OVER w AS INTEGER) AS symbol_row_num
       |  FROM bars
       |  WINDOW w AS (PARTITION BY symbol ORDER BY trade_date)
       |)""".stripMargin

  private val rollingSql: String = {
    val closeFp = sc("close_price", 2)
    def sma(w: String) = rd(s"AVG($closeFp) OVER $w / 100.0", 4)
    val gain = s"AVG(${sc4("CASE WHEN daily_return_pct > 0 THEN daily_return_pct ELSE 0 END")}) OVER w14 / 10000.0"
    val loss = s"AVG(${sc4("CASE WHEN daily_return_pct < 0 THEN ABS(daily_return_pct) ELSE 0 END")}) OVER w14 / 10000.0"
    s"""rolling AS (
       |  SELECT *,
       |    ${sma("w5")} AS sma_5d,
       |    ${sma("w10")} AS sma_10d,
       |    ${sma("w20")} AS sma_20d,
       |    ${sma("w50")} AS sma_50d,
       |    ${rd("STDDEV_SAMP(daily_return_pct) OVER w20", 4)} AS volatility_20d_pct,
       |    ${rd("STDDEV_SAMP(daily_return_pct) OVER w20 * SQRT(252.0)", 4)} AS annualised_volatility_pct,
       |    CAST(FLOOR(AVG(volume) OVER w20 + 0.5) AS DOUBLE) AS avg_volume_20d,
       |    ${rd("volume / NULLIF(AVG(volume) OVER w20, 0)", 4)} AS volume_vs_avg_20d,
       |    ${rd(s"100 - (100 / (1 + NULLIF(($gain) / NULLIF($loss, 0), 0)))", 2)} AS rsi_14
       |  FROM returns
       |  WINDOW
       |    w5  AS (PARTITION BY symbol ORDER BY trade_date ROWS BETWEEN 4 PRECEDING AND CURRENT ROW),
       |    w10 AS (PARTITION BY symbol ORDER BY trade_date ROWS BETWEEN 9 PRECEDING AND CURRENT ROW),
       |    w20 AS (PARTITION BY symbol ORDER BY trade_date ROWS BETWEEN 19 PRECEDING AND CURRENT ROW),
       |    w50 AS (PARTITION BY symbol ORDER BY trade_date ROWS BETWEEN 49 PRECEDING AND CURRENT ROW),
       |    w14 AS (PARTITION BY symbol ORDER BY trade_date ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
       |)""".stripMargin
  }

  private val perfSql: String =
    s"""perf AS (
       |  SELECT symbol, trade_date, open_price, high_price, low_price, close_price, volume,
       |    prev_close_price, daily_return_pct, intraday_range, intraday_range_pct, overnight_gap,
       |    sma_5d, sma_10d, sma_20d, sma_50d,
       |    volatility_20d_pct, annualised_volatility_pct, avg_volume_20d, volume_vs_avg_20d, rsi_14,
       |    CASE WHEN sma_5d > sma_20d THEN 'GOLDEN_CROSS' WHEN sma_5d < sma_20d THEN 'DEATH_CROSS' ELSE 'NEUTRAL' END AS ma_signal_5_20,
       |    CASE WHEN sma_10d > sma_50d THEN 'GOLDEN_CROSS' WHEN sma_10d < sma_50d THEN 'DEATH_CROSS' ELSE 'NEUTRAL' END AS ma_signal_10_50,
       |    CASE WHEN volume_vs_avg_20d >= 2.0 THEN true ELSE false END AS is_high_volume_day,
       |    CASE WHEN rsi_14 >= 70 THEN 'OVERBOUGHT' WHEN rsi_14 <= 30 THEN 'OVERSOLD' ELSE 'NEUTRAL' END AS rsi_signal,
       |    MAX(high_price) OVER w252 AS high_52w,
       |    MIN(low_price) OVER w252 AS low_52w,
       |    ${rd("(close_price - MIN(low_price) OVER w252) / NULLIF(MAX(high_price) OVER w252 - MIN(low_price) OVER w252, 0) * 100", 2)} AS pct_of_52w_range
       |  FROM rolling
       |  WINDOW w252 AS (PARTITION BY symbol ORDER BY trade_date ROWS BETWEEN 251 PRECEDING AND CURRENT ROW)
       |)""".stripMargin

  private def dailyChain(upTo: String): String =
    "WITH " + (upTo match {
      case "bars"    => Adapters.barsSql
      case "returns" => Seq(Adapters.barsSql, returnsSql).mkString(",\n")
      case "rolling" => Seq(Adapters.barsSql, returnsSql, rollingSql).mkString(",\n")
      case "perf"    => Seq(Adapters.barsSql, returnsSql, rollingSql, perfSql).mkString(",\n")
    })

  // ── audio lane CTE chain ──────────────────────────────────────────

  /** Shared closed form of the audio lane's deterministic payload: the
    * md5-chain hex re-read as per-frame signed-LE-int16 sample lists —
    * `WITH pay, f, sv(media_id[, sample_rate], frame_idx, xs)`; sample
    * i = signed LE int16 at hex chars 4i+1(lo)/4i+3(hi), frames of 16.
    * `withRate` adds q_audio_wav's arithmetic sample_rate column.
    * Shared by q_audio_frames / q_audio_wav / q_audio_vad. */
  private def audioSvCte(withRate: Boolean): String = {
    val rateDef =
      if (withRate) "\n    CAST(8000 + (doc_id % 3) * 4000 AS INTEGER) AS sample_rate,"
      else ""
    val rateCol = if (withRate) ", sample_rate" else ""
    s"""WITH pay AS (
       |  SELECT doc_id AS media_id,$rateDef
       |    md5(text) || md5(text || '1') || md5(text || '2') || md5(text || '3') ||
       |    md5(text || '4') || md5(text || '5') || md5(text || '6') || md5(text || '7') AS hx
       |  FROM documents),
       |f AS (SELECT media_id$rateCol, unnest(range(0, 4)) AS frame_idx, hx FROM pay),
       |sv AS (
       |  SELECT media_id$rateCol, frame_idx,
       |    list_transform(range(0, 16), i -> (
       |      CASE WHEN ('0x' || substr(hx, CAST((frame_idx * 16 + i) * 4 + 1 AS INTEGER), 2))::BIGINT
       |                 + 256 * ('0x' || substr(hx, CAST((frame_idx * 16 + i) * 4 + 3 AS INTEGER), 2))::BIGINT >= 32768
       |           THEN ('0x' || substr(hx, CAST((frame_idx * 16 + i) * 4 + 1 AS INTEGER), 2))::BIGINT
       |                 + 256 * ('0x' || substr(hx, CAST((frame_idx * 16 + i) * 4 + 3 AS INTEGER), 2))::BIGINT - 65536
       |           ELSE ('0x' || substr(hx, CAST((frame_idx * 16 + i) * 4 + 1 AS INTEGER), 2))::BIGINT
       |                 + 256 * ('0x' || substr(hx, CAST((frame_idx * 16 + i) * 4 + 3 AS INTEGER), 2))::BIGINT
       |      END)) AS xs
       |  FROM f)""".stripMargin
  }

  /** IMA ADPCM constants for the q_audio_adpcm oracle, rendered from
    * THE SAME arrays the Scala decoder uses
    * ([[graft.operators.Multimodal.imaStepTable]]) — one source of
    * truth, so the tables cannot drift between engines. */
  private val imaStepList: String =
    graft.operators.Multimodal.imaStepTable.mkString("[", ",", "]")

  /** English stopword list literal, rendered from THE list
    * [[graft.operators.TextAnalysis.stopwords]] uses (one source of
    * truth — the q_gopher_rules stopword rule cannot drift). */
  private def enStopsList: String =
    graft.operators.TextAnalysis.stopwords.toMap.apply("en")
      .map(w => s"'$w'").mkString("[", ",", "]")

  /** (k, Q14 coefficient) rows rendered from
    * [[graft.operators.Multimodal.goertzelBins]] — same one-source
    * rule for the q_audio_goertzel resonator. */
  private def goertzelBinsValues: String =
    graft.operators.Multimodal.goertzelBins
      .map { case (k, c) => s"($k, ${c}::BIGINT)" }
      .mkString("VALUES ", ", ", "")
  private val imaIndexList: String =
    graft.operators.Multimodal.imaIndexTable.mkString("[", ",", "]")

  /** Integer-DCT constants for the q_image_dct oracle, rendered from
    * THE SAME arrays the Scala codec uses
    * ([[graft.operators.Multimodal.dctBasis]] /
    * [[graft.operators.Multimodal.jpegLumaQuant]]) — one source of
    * truth, so basis and quant table cannot drift between engines. */
  private val dctBasisList: String =
    graft.operators.Multimodal.dctBasis.mkString("[", ",", "]")
  private val jpegQuantList: String =
    graft.operators.Multimodal.jpegLumaQuant.mkString("[", ",", "]")

  /** The full integer-DCT round trip as a CTE chain ending in `feat`
    * (media_id, quality, dc_q, n_nonzero, max_abs_err, sse,
    * recon_sum) — shared by q_image_dct (per-doc rows) and
    * q_image_rd (the per-quality rate–distortion rollup). */
  private lazy val dctFeatCtes: String =
    s"""pay AS (
       |  SELECT doc_id AS media_id,
       |    CAST(50 + (doc_id % 3) * 25 AS INTEGER) AS quality,
       |    md5(text) || md5(text || '1') || md5(text || '2') || md5(text || '3') AS hx
       |  FROM documents),
       |tabs AS (SELECT ${dctBasisList} AS tb, ${jpegQuantList} AS qb),
       |px AS (SELECT media_id, quality,
       |    list_transform(range(0, 64), i ->
       |      ('0x' || substr(hx, CAST(i * 2 + 1 AS INTEGER), 2))::BIGINT) AS ps
       |  FROM pay),
       |qt AS (SELECT media_id, quality, ps,
       |    list_transform(range(0, 64), k -> LEAST(255, GREATEST(1,
       |      (qb[k + 1] * (CASE WHEN quality < 50 THEN 5000 // quality
       |                         ELSE 200 - 2 * quality END) + 50) // 100))) AS q
       |  FROM px, tabs),
       |fwd AS (SELECT media_id, quality, ps, q,
       |    list_transform(range(0, 64), k ->
       |      list_sum(list_transform(range(0, 64), m ->
       |        tb[(k // 8) * 8 + (m // 8) + 1] * (ps[m + 1] - 128)
       |          * tb[(k % 8) * 8 + (m % 8) + 1]))) AS g
       |  FROM qt, tabs),
       |quant AS (SELECT media_id, quality, ps, q,
       |    list_transform(range(0, 64), k -> (CASE
       |      WHEN g[k + 1] < 0
       |      THEN -((-g[k + 1] + q[k + 1] * 2097152) // (q[k + 1] * 4194304))
       |      ELSE (g[k + 1] + q[k + 1] * 2097152) // (q[k + 1] * 4194304) END)) AS qz
       |  FROM fwd),
       |inv AS (SELECT media_id, quality, ps, qz,
       |    list_transform(range(0, 64), m ->
       |      list_sum(list_transform(range(0, 64), k ->
       |        tb[(k // 8) * 8 + (m // 8) + 1] * (qz[k + 1] * q[k + 1])
       |          * tb[(k % 8) * 8 + (m % 8) + 1]))) AS r
       |  FROM quant, tabs),
       |rec AS (SELECT media_id, quality, ps, qz,
       |    list_transform(range(0, 64), m -> LEAST(255, GREATEST(0,
       |      (CASE WHEN r[m + 1] < 0
       |            THEN -((-r[m + 1] + 2097152) // 4194304)
       |            ELSE (r[m + 1] + 2097152) // 4194304 END) + 128))) AS pr
       |  FROM inv),
       |feat AS (
       |  SELECT media_id, quality,
       |    CAST(qz[1] AS BIGINT) AS dc_q,
       |    CAST(len(list_filter(qz, z -> z != 0)) AS INTEGER) AS n_nonzero,
       |    CAST(list_max(list_transform(range(0, 64), k ->
       |      abs(ps[k + 1] - pr[k + 1]))) AS INTEGER) AS max_abs_err,
       |    CAST(list_sum(list_transform(range(0, 64), k ->
       |      (ps[k + 1] - pr[k + 1]) * (ps[k + 1] - pr[k + 1]))) AS BIGINT) AS sse,
       |    CAST(list_sum(pr) AS BIGINT) AS recon_sum
       |  FROM rec)""".stripMargin

  /** The clamped next-predictor expression of the IMA fold (x[1] = the
    * current nibble, acc = [predictor, step_index, samples...]): the
    * bit-weighted delta step/8 + b0·step/4 + b1·step/2 + b2·step,
    * sign bit b3, int16 clamp. Used twice per fold step — as the new
    * acc[1] and as the appended decoded sample. */
  private val imaNextPred: String =
    """LEAST(32767, GREATEST(-32768, acc[1] +
      |          (CASE WHEN x[1] >= 8 THEN -1 ELSE 1 END) *
      |          (st[acc[2]+1] // 8 + (x[1] % 2) * (st[acc[2]+1] // 4)
      |           + ((x[1] // 2) % 2) * (st[acc[2]+1] // 2)
      |           + ((x[1] // 4) % 2) * st[acc[2]+1])))""".stripMargin

  // ── tick lane CTE chain ───────────────────────────────────────────

  /** mirrors TickAnalytics.windowAggregatesExact at priceScale=2. */
  private def tickAggSql(name: String, interval: String): String = {
    val x = "CAST(FLOOR((price) * 100.0 + 0.5) AS BIGINT)"
    s"""${name}_g AS (
       |  SELECT symbol, time_bucket(INTERVAL '$interval', event_time) AS window_start,
       |    COUNT(*) AS n, COUNT($x) AS cx, SUM($x) AS sx, SUM(($x) * ($x)) AS sxx,
       |    CAST(SUM(volume) AS BIGINT) AS volume_sum
       |  FROM ticks GROUP BY 1, 2
       |),
       |$name AS (
       |  SELECT symbol, window_start, window_start + INTERVAL '$interval' AS window_end,
       |    ${rd("sx / cx / 100.0", 4)} AS ma,
       |    CASE WHEN n > 1 THEN ${rd("SQRT((n * sxx - sx * sx) / (n * (n - 1)) / (100.0 * 100.0))", 4)} END AS volatility,
       |    volume_sum
       |  FROM ${name}_g
       |)""".stripMargin
  }

  private val m15Sql: String =
    """m15 AS (
      |  SELECT symbol, window_start, window_end, ma AS ma_15m,
      |         volatility AS volatility_15m, volume_sum AS volume_sum_15m
      |  FROM w15
      |)""".stripMargin

  private val joinedSql: String =
    """rt AS (
      |  SELECT m15.symbol, m15.window_start, m15.window_end,
      |         m15.ma_15m, m15.volatility_15m, m15.volume_sum_15m, h1.ma AS ma_1h
      |  FROM m15 LEFT JOIN h1
      |    ON m15.symbol = h1.symbol
      |   AND date_trunc('hour', m15.window_start) = h1.window_start
      |)""".stripMargin

  private val stagedSql: String =
    s"""staged AS (
       |  SELECT symbol,
       |    window_start AS window_start_at,
       |    window_end AS window_end_at,
       |    CAST(date_diff('minute', window_start, window_end) AS BIGINT) AS window_duration_minutes,
       |    ma_15m, ma_1h, volatility_15m,
       |    volume_sum_15m AS volume_15m
       |  FROM rt
       |  WHERE symbol IS NOT NULL AND window_start IS NOT NULL AND window_end IS NOT NULL
       |    AND window_start < window_end
       |    AND window_start >= TIMESTAMP '2024-02-01 00:00:00' - INTERVAL 90 DAY
       |)""".stripMargin

  private val enrichedSql: String =
    s"""enriched AS (
       |  SELECT *,
       |    ${rd("ma_15m - LAG(ma_15m) OVER w", 4)} AS ma_15m_delta,
       |    ${rd("ma_1h - LAG(ma_1h) OVER w", 4)} AS ma_1h_delta,
       |    ${rd("ma_15m - ma_1h", 4)} AS ma_spread,
       |    CAST(FLOOR(AVG(volume_15m) OVER w4 + 0.5) AS DOUBLE) AS avg_volume_1h,
       |    ${rd(s"AVG(${sc4("volatility_15m")}) OVER w4 / 10000.0", 4)} AS avg_volatility_1h
       |  FROM staged
       |  WINDOW
       |    w  AS (PARTITION BY symbol ORDER BY window_start_at),
       |    w4 AS (PARTITION BY symbol ORDER BY window_start_at ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
       |),
       |signals AS (
       |  SELECT *,
       |    CASE WHEN ma_spread > 0 AND ma_15m_delta > 0 THEN 'BULLISH'
       |         WHEN ma_spread < 0 AND ma_15m_delta < 0 THEN 'BEARISH'
       |         ELSE 'NEUTRAL' END AS momentum_signal,
       |    CASE WHEN volatility_15m >= avg_volatility_1h * 2.0 THEN 'HIGH'
       |         WHEN volatility_15m >= avg_volatility_1h * 1.5 THEN 'ELEVATED'
       |         WHEN volatility_15m <= avg_volatility_1h * 0.5 THEN 'LOW'
       |         ELSE 'NORMAL' END AS volatility_regime,
       |    CASE WHEN avg_volume_1h > 0 AND volume_15m >= avg_volume_1h * 2.0 THEN true
       |         ELSE false END AS is_volume_spike
       |  FROM enriched
       |)""".stripMargin

  private def tickChain(upTo: String): String = {
    val base = Seq(Adapters.ticksSql, tickAggSql("w15", "15 minutes"), tickAggSql("h1", "1 hour"), m15Sql, joinedSql)
    "WITH " + (upTo match {
      case "w15"     => Seq(Adapters.ticksSql, tickAggSql("w15", "15 minutes")).mkString(",\n")
      case "h1"      => Seq(Adapters.ticksSql, tickAggSql("h1", "1 hour")).mkString(",\n")
      case "rt"      => base.mkString(",\n")
      case "signals" => (base ++ Seq(stagedSql, enrichedSql)).mkString(",\n")
    })
  }

  // ── LLM-data-op preludes ──────────────────────────────────────────

  /** hash60 mirror: ('0x' || first 15 md5 hex digits)::BIGINT. */
  private def h60(expr: String): String =
    s"('0x' || substr(md5($expr), 1, 15))::BIGINT"

  /** word-3-gram shingles per doc (mirrors Funcs.wordShingles n=3). */
  private val shinglesSql: String =
    """sh AS (
      |  SELECT doc_id, list_distinct(list_transform(
      |    range(1, len(string_split(text, ' ')) - 1),
      |    i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1] || ' ' || string_split(text, ' ')[i+2]
      |  )) AS shingles
      |  FROM documents
      |  WHERE len(string_split(text, ' ')) >= 3
      |)""".stripMargin

  private val jaccardExpr: String =
    rd("len(list_intersect(s1, s2)) / CAST(len(list_distinct(list_concat(s1, s2))) AS DOUBLE)", 4)

  /** The MinHash signature + band chain up to `banded(doc_id,
    * shingles, band, band_key)` — shared by the Jaccard-verified pair
    * chain and the edit-distance-verified fuzzy chain. */
  private lazy val minhashBandedCtes: String =
    s"""$shinglesSql,
       |sig AS (
       |  SELECT doc_id, shingles,
       |    list_transform(range(0, 32), i ->
       |      list_min(list_transform(
       |        list_transform(shingles, s -> ${h60("s")} % 1073741824),
       |        h -> ((i * 2 + 1) * h + i * 7919) % 1073741821))) AS sig
       |  FROM sh
       |),
       |banded AS (
       |  SELECT doc_id, shingles,
       |    b AS band, array_to_string(list_slice(sig, b * 4 + 1, b * 4 + 4), ',') AS band_key
       |  FROM sig, (SELECT unnest(range(0, 8)) AS b) bands
       |)""".stripMargin

  /** The MinHash-LSH pair chain up to a `pairs(id1, id2, jaccard)` CTE
    * (shared by q_dedup_minhash_lsh and q_dedup_groups). */
  private lazy val minhashPairsCtes: String =
    s"""$minhashBandedCtes,
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2, $jaccardExpr AS jaccard
       |  FROM (SELECT doc_id, shingles AS s1, band, band_key FROM banded) a
       |  JOIN (SELECT doc_id, shingles AS s2, band, band_key FROM banded) b
       |    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
       |),
       |pairs AS (SELECT id1, id2, jaccard FROM cand WHERE jaccard >= 0.5)""".stripMargin

  /** Contamination scores (shared by q_decontamination and its
    * bloom-prefiltered twin — identical results by construction). */
  private lazy val decontaminationSql: String =
    s"""WITH $shinglesSql,
       |ex0 AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
       |ex AS (SELECT doc_id, ${h60("s")} AS shh FROM ex0),
       |evalsh AS (SELECT DISTINCT shh FROM ex WHERE doc_id % 50 = 0),
       |corpus AS (SELECT doc_id, shh FROM ex WHERE doc_id % 50 != 0),
       |scored AS (
       |  SELECT c.doc_id,
       |    CAST(COUNT(*) AS BIGINT) AS n_shingles,
       |    CAST(SUM(CASE WHEN e.shh IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS matched
       |  FROM corpus c LEFT JOIN evalsh e ON c.shh = e.shh
       |  GROUP BY c.doc_id
       |)
       |SELECT doc_id, n_shingles, matched,
       |  ${rd("matched / CAST(n_shingles AS DOUBLE)", 4)} AS overlap_ratio
       |FROM scored ORDER BY doc_id""".stripMargin

  /** quantized embeddings + exact integer norms (mirrors
    * Similarity.quantize and its `dot_q(v, v)` norms at scale 6). */
  private val embSql: String =
    """ev AS (
      |  SELECT vec_id, label,
      |    list_transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)) AS vq
      |  FROM embeddings
      |),
      |en AS (
      |  SELECT vec_id, label, vq, list_sum(list_transform(vq, x -> x * x)) AS nq FROM ev
      |)""".stripMargin

  /** One unrolled Lloyd round over the md5-seeded quantizer, up to the
    * final assignment CTE `af(vec_id, cell)` — shared by
    * q_kmeans_refine and q_cluster_terms. */
  private lazy val kmeansRefineCtes: String =
    s"""$embSql,
       |seeds AS (
       |  SELECT vec_id AS sid, vq AS sq FROM en
       |  ORDER BY ${h60("CAST(vec_id AS VARCHAR)")}, vec_id
       |  LIMIT 16
       |),
       |cent AS (
       |  SELECT sq, CAST(ROW_NUMBER() OVER (ORDER BY sid) - 1 AS BIGINT) AS cell FROM seeds
       |),
       |d0 AS (
       |  SELECT e.vec_id, e.vq, c.cell,
       |    list_sum(list_transform(range(1, 65), k -> (e.vq[k] - c.sq[k]) * (e.vq[k] - c.sq[k]))) AS d
       |  FROM en e CROSS JOIN cent c
       |),
       |a0 AS (
       |  SELECT vec_id, vq, cell FROM (
       |    SELECT vec_id, vq, cell, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
       |    FROM d0
       |  ) WHERE rn = 1
       |),
       |comp AS (
       |  SELECT cell, k, CAST(FLOOR(SUM(vq[k]) / CAST(COUNT(*) AS DOUBLE)) AS BIGINT) AS m
       |  FROM a0, (SELECT unnest(range(1, 65)) AS k) ks
       |  GROUP BY cell, k
       |),
       |cent1 AS (SELECT cell, list(m ORDER BY k) AS sq FROM comp GROUP BY cell),
       |centf AS (
       |  SELECT c0.cell, COALESCE(c1.sq, c0.sq) AS sq
       |  FROM cent c0 LEFT JOIN cent1 c1 ON c0.cell = c1.cell
       |),
       |d1 AS (
       |  SELECT e.vec_id, cf.cell,
       |    list_sum(list_transform(range(1, 65), k -> (e.vq[k] - cf.sq[k]) * (e.vq[k] - cf.sq[k]))) AS d
       |  FROM en e CROSS JOIN centf cf
       |),
       |af AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT vec_id, cell, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
       |    FROM d1
       |  ) WHERE rn = 1
       |)""".stripMargin

  private def cosExpr(dot: String, n1: String, n2: String): String =
    rd(s"($dot) / NULLIF(sqrt($n1) * sqrt($n2), 0)", 6)

  private val pairDot: String =
    "list_sum(list_transform(range(1, 65), k -> a.vq[k] * b.vq[k]))"

  /** Mirrors Similarity.lshBucket(vq, numPlanes): sum of sign bits of
    * the exact integer dot against each md5-derived hyperplane (the
    * same plan-time literals Spark embeds). */
  private def lshSigSql(numPlanes: Int, vq: String = "vq"): String = {
    val planes = graft.operators.Similarity.planeComponents(numPlanes)
    (0 until numPlanes).map { p =>
      val w = planes.slice(p * 64, (p + 1) * 64).mkString("[", ", ", "]")
      s"CASE WHEN list_sum(list_transform(range(1, 65), k -> $vq[k] * ($w)[k])) >= 0 THEN ${1L << p} ELSE 0 END"
    }.mkString("\n       + ")
  }

  /** Mirrors Similarity.cosineNearDupPairsBanded's candidate+verify
    * shape given a CTE `bk(id, blk, vq, nq, sig)`. */
  private def bandedNearDupSql(idCol: String, bands: Int, planesPerBand: Int,
                               threshold: Double): String = {
    val mask = (1L << planesPerBand) - 1
    s"""banded AS (
       |  SELECT $idCol, blk, band, (sig >> (CAST(band AS INTEGER) * $planesPerBand)) & $mask AS band_key
       |  FROM bk, (SELECT unnest(range(0, $bands)) AS band) bands_t
       |),
       |cand AS (
       |  SELECT DISTINCT a.blk AS block, a.$idCol AS id1, b.$idCol AS id2
       |  FROM banded a JOIN banded b
       |    ON a.blk = b.blk AND a.band = b.band AND a.band_key = b.band_key
       |   AND a.$idCol < b.$idCol
       |)
       |SELECT c.block, c.id1, c.id2,
       |  ${cosExpr(pairDot, "a.nq", "b.nq")} AS cosine
       |FROM cand c
       |JOIN bk a ON c.id1 = a.$idCol
       |JOIN bk b ON c.id2 = b.$idCol
       |WHERE ${cosExpr(pairDot, "a.nq", "b.nq")} >= $threshold
       |ORDER BY id1, id2""".stripMargin
  }

  /** Shared SQL fragments mirroring TextAnalysis.languageId /
    * qualityScore (stopword profiles embedded as literals, identical
    * to the Scala constants) — used by q_text_analysis and
    * q_corpus_filter. All fragments assume a CTE exposing
    * `ts = string_split(text, ' ')` and the generated `h_<lang>`
    * columns. */
  private object TextSignalSql {
    val sw: Map[String, Seq[String]] = Map(
      "en" -> Seq("the", "a", "of", "and", "to", "is", "in"),
      "de" -> Seq("der", "die", "das", "und", "ist", "ein"),
      "es" -> Seq("el", "la", "los", "y", "es", "un"),
      "fr" -> Seq("le", "la", "et", "les", "un", "est"),
      "zh" -> Seq("de", "le", "shi", "he", "zai"))
    val langs: Seq[String] = Seq("en", "de", "es", "fr", "zh")
    def lst(ws: Seq[String]): String = ws.map("'" + _ + "'").mkString("[", ", ", "]")
    val allSw: Seq[String] = langs.flatMap(sw).distinct
    def hits(ws: Seq[String]): String =
      s"len(list_filter(ts, t -> list_contains(${lst(ws)}, t)))"
    val hitCols: String = langs.map(l => s"${hits(sw(l))} AS h_$l")
      .mkString(",\n         |    ")
    val pred: String = langs.zipWithIndex.map { case (l, i) =>
      val rest = langs.drop(i + 1)
      val cond = (s"h_$l > 0" +: rest.map(r => s"h_$l >= h_$r")).mkString(" AND ")
      s"WHEN $cond THEN '$l'"
    }.mkString("\n         |         ")
    val qualityExpr: String =
      s"LEAST(CAST(len(ts) AS DOUBLE) / 100, 1.0) * 0.4" +
        s" + len(list_distinct(ts)) / CAST(len(ts) AS DOUBLE) * 0.3" +
        s" + LEAST(${hits(allSw)} / CAST(len(ts) AS DOUBLE) * 5, 1.0) * 0.3"
  }

  // ── per-query statements ──────────────────────────────────────────

  /** One degree-oriented per-edge triangle-support pass over the edge
    * CTE `edges`, producing CTE `$out(u, v, support)` — mirrors
    * [[graft.operators.Graph.edgeSupport]] (q_triangles' enumeration
    * at edge grain). MATERIALIZED: every piece is referenced more
    * than once and DuckDB inlines plain CTEs. */
  private def ktSupportSql(edges: String, out: String): String =
    s"""${out}_d AS MATERIALIZED (SELECT id, CAST(COUNT(*) AS BIGINT) AS deg
       |  FROM (SELECT u AS id FROM $edges UNION ALL SELECT v AS id FROM $edges)
       |  GROUP BY id),
       |${out}_o AS MATERIALIZED (
       |  SELECT CASE WHEN d1.deg < d2.deg OR (d1.deg = d2.deg AND e.u < e.v)
       |              THEN e.u ELSE e.v END AS a,
       |         CASE WHEN d1.deg < d2.deg OR (d1.deg = d2.deg AND e.u < e.v)
       |              THEN e.v ELSE e.u END AS b
       |  FROM $edges e JOIN ${out}_d d1 ON e.u = d1.id
       |  JOIN ${out}_d d2 ON e.v = d2.id),
       |${out}_t AS (
       |  SELECT e1.a AS a, e1.b AS b, e2.b AS c
       |  FROM ${out}_o e1 JOIN ${out}_o e2 ON e1.a = e2.a AND e1.b <> e2.b
       |  WHERE EXISTS (SELECT 1 FROM ${out}_o o3 WHERE o3.a = e1.b AND o3.b = e2.b)),
       |$out AS MATERIALIZED (
       |  SELECT e.eu AS u, e.ev AS v, CAST(COUNT(*) AS BIGINT) AS support
       |  FROM (SELECT unnest([
       |      {'eu': LEAST(a, b), 'ev': GREATEST(a, b)},
       |      {'eu': LEAST(a, c), 'ev': GREATEST(a, c)},
       |      {'eu': LEAST(b, c), 'ev': GREATEST(b, c)}]) AS e FROM ${out}_t)
       |  GROUP BY e.eu, e.ev)""".stripMargin

  val all: Map[String, String] = Map(
    "q_clean_project" ->
      """SELECT DISTINCT UPPER(TRIM(l_returnflag)) AS return_flag, l_suppkey AS symbol,
        |  CAST(l_shipdate AS DATE) AS trade_date
        |FROM lineitem
        |WHERE l_extendedprice > 0 AND l_suppkey IS NOT NULL
        |  AND CAST(l_shipdate AS DATE) IS NOT NULL
        |  AND CAST(l_quantity AS BIGINT) >= 0
        |  AND CAST(l_shipdate AS DATE) <= DATE '2002-01-01'
        |ORDER BY symbol, trade_date, return_flag""".stripMargin,

    "q_daily_returns" ->
      s"""${dailyChain("returns")}
         |SELECT * FROM returns ORDER BY symbol, trade_date""".stripMargin,

    "q_rolling_metrics" ->
      s"""${dailyChain("rolling")}
         |SELECT symbol, trade_date, sma_5d, sma_10d, sma_20d, sma_50d,
         |  volatility_20d_pct, annualised_volatility_pct, avg_volume_20d, volume_vs_avg_20d, rsi_14
         |FROM rolling ORDER BY symbol, trade_date""".stripMargin,

    "q_mart_stock_performance" ->
      s"""${dailyChain("perf")}
         |SELECT * FROM perf ORDER BY symbol, trade_date""".stripMargin,

    "q_returns_join_rolling" ->
      s"""${dailyChain("rolling")}
         |SELECT r.symbol, r.trade_date, r.daily_return_pct, m.sma_20d, m.rsi_14, m.volume_vs_avg_20d
         |FROM returns r JOIN rolling m ON r.symbol = m.symbol AND r.trade_date = m.trade_date
         |ORDER BY r.symbol, r.trade_date""".stripMargin,

    "q_mart_sector_summary" ->
      s"""${dailyChain("perf")},
         |dim AS (
         |  SELECT s_suppkey AS symbol, n_name AS sector,
         |    CASE WHEN s_acctbal >= 5000 THEN 'LARGE'
         |         WHEN s_acctbal >= 0 THEN 'MID'
         |         ELSE 'SMALL' END AS market_cap_tier
         |  FROM supplier JOIN nation ON s_nationkey = n_nationkey
         |)
         |SELECT p.trade_date, d.sector, d.market_cap_tier,
         |  COUNT(DISTINCT p.symbol) AS symbols,
         |  COUNT(*) FILTER (WHERE daily_return_pct > 0) AS advancers,
         |  COUNT(*) FILTER (WHERE daily_return_pct < 0) AS decliners,
         |  ${rd(s"SUM(${sc("daily_return_pct", 4)}) / COUNT(daily_return_pct) / 10000.0", 4)} AS avg_return_pct,
         |  COUNT(*) FILTER (WHERE ma_signal_5_20 = 'GOLDEN_CROSS') AS golden_cross_5_20_count,
         |  COUNT(*) FILTER (WHERE rsi_signal = 'OVERBOUGHT') AS overbought_count,
         |  CAST(SUM(volume) AS BIGINT) AS total_volume
         |FROM perf p JOIN dim d ON p.symbol = d.symbol
         |GROUP BY p.trade_date, d.sector, d.market_cap_tier
         |ORDER BY p.trade_date, d.sector, d.market_cap_tier""".stripMargin,

    "q_mart_daily_summary" ->
      s"""${dailyChain("perf")},
         |sb AS (
         |  SELECT *, ${sc4("daily_return_pct")} AS ret_i,
         |    ${sc4("volume_vs_avg_20d")} AS vvn_i,
         |    ${sc4("annualised_volatility_pct")} AS av_i,
         |    ${sc4("intraday_range_pct")} AS ir_i
         |  FROM perf
         |),
         |ranked AS (
         |  SELECT trade_date, symbol,
         |    ROW_NUMBER() OVER (PARTITION BY trade_date ORDER BY daily_return_pct DESC, symbol DESC) AS rn_g,
         |    ROW_NUMBER() OVER (PARTITION BY trade_date ORDER BY daily_return_pct ASC, symbol ASC) AS rn_l
         |  FROM sb WHERE daily_return_pct IS NOT NULL
         |),
         |gl AS (
         |  SELECT trade_date,
         |    MAX(CASE WHEN rn_g = 1 THEN symbol END) AS top_gainer_symbol,
         |    MAX(CASE WHEN rn_l = 1 THEN symbol END) AS top_loser_symbol
         |  FROM ranked GROUP BY trade_date
         |)
         |SELECT sb.trade_date,
         |  COUNT(DISTINCT symbol) AS symbols_tracked,
         |  COUNT(*) FILTER (WHERE daily_return_pct > 0) AS advancers,
         |  COUNT(*) FILTER (WHERE daily_return_pct < 0) AS decliners,
         |  COUNT(*) FILTER (WHERE daily_return_pct = 0) AS unchanged,
         |  ${rd("COUNT(*) FILTER (WHERE daily_return_pct > 0) / NULLIF(COUNT(DISTINCT symbol), 0) * 100", 1)} AS advance_decline_ratio_pct,
         |  ${rd("SUM(ret_i) / COUNT(ret_i) / 10000.0", 4)} AS avg_return_pct,
         |  ${rd("MEDIAN(ret_i) / 10000.0", 4)} AS median_return_pct,
         |  ${rd("STDDEV_SAMP(daily_return_pct)", 4)} AS return_stddev,
         |  MAX(daily_return_pct) AS best_return_pct,
         |  MIN(daily_return_pct) AS worst_return_pct,
         |  MAX(gl.top_gainer_symbol) AS top_gainer_symbol,
         |  MAX(gl.top_loser_symbol) AS top_loser_symbol,
         |  CAST(SUM(volume) AS BIGINT) AS total_volume,
         |  ${rd("SUM(vvn_i) / COUNT(vvn_i) / 10000.0", 4)} AS avg_volume_vs_norm,
         |  COUNT(*) FILTER (WHERE is_high_volume_day) AS high_volume_stocks,
         |  ${rd("SUM(av_i) / COUNT(av_i) / 10000.0", 2)} AS avg_annualised_vol_pct,
         |  ${rd("SUM(ir_i) / COUNT(ir_i) / 10000.0", 4)} AS avg_intraday_range_pct,
         |  COUNT(*) FILTER (WHERE rsi_signal = 'OVERBOUGHT') AS overbought_count,
         |  COUNT(*) FILTER (WHERE rsi_signal = 'OVERSOLD') AS oversold_count,
         |  COUNT(*) FILTER (WHERE ma_signal_5_20 = 'GOLDEN_CROSS') AS golden_cross_5_20_count,
         |  COUNT(*) FILTER (WHERE ma_signal_5_20 = 'DEATH_CROSS') AS death_cross_5_20_count
         |FROM sb LEFT JOIN gl ON sb.trade_date = gl.trade_date
         |GROUP BY sb.trade_date
         |ORDER BY sb.trade_date DESC""".stripMargin,

    "q_tick_windows_15m" ->
      s"""${tickChain("w15")}
         |SELECT symbol, window_start, window_end, ma, volatility, volume_sum
         |FROM w15 ORDER BY symbol, window_start""".stripMargin,

    "q_tick_windows_1h" ->
      s"""${tickChain("h1")}
         |SELECT symbol, window_start, window_end, ma, volatility, volume_sum
         |FROM h1 ORDER BY symbol, window_start""".stripMargin,

    // Streaming-computed twin of q_tick_windows_15m: SAME oracle —
    // streaming≡batch is exactly what the row makes the gate check.
    "q_stream_windows_15m" ->
      s"""${tickChain("w15")}
         |SELECT symbol, window_start, window_end, ma, volatility, volume_sum
         |FROM w15 ORDER BY symbol, window_start""".stripMargin,

    "q_realtime_analytics" ->
      s"""${tickChain("rt")}
         |SELECT * FROM rt ORDER BY symbol, window_start""".stripMargin,

    "q_mart_realtime_signals" ->
      s"""${tickChain("signals")}
         |SELECT *,
         |  CASE WHEN momentum_signal != 'NEUTRAL'
         |        AND volatility_regime IN ('ELEVATED', 'HIGH')
         |        AND is_volume_spike = true THEN true ELSE false END AS is_multi_signal_alert,
         |  symbol || ' | ' || momentum_signal || ' | Vol: ' || volatility_regime
         |    || CASE WHEN is_volume_spike THEN ' | VOLUME SPIKE' ELSE '' END
         |    || ' @ ' || strftime(window_start_at, '%Y-%m-%d %H:%M') AS signal_summary
         |FROM signals ORDER BY symbol, window_start_at""".stripMargin,

    "q_pricing_summary" ->
      s"""SELECT l_returnflag, l_linestatus,
         |  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
         |  ${rd(s"SUM(${sc("l_extendedprice", 2)}) / 100.0", 2)} AS sum_base_price,
         |  ${rd(s"SUM(${sc4("l_extendedprice * (1 - l_discount)")}) / 10000.0", 2)} AS sum_disc_price,
         |  ${rd(s"SUM(${sc("l_extendedprice * (1 - l_discount) * (1 + l_tax)", 6)}) / 1000000.0", 2)} AS sum_charge,
         |  ${rd(s"SUM(${sc("l_quantity", 2)}) / COUNT(${sc("l_quantity", 2)}) / 100.0", 4)} AS avg_qty,
         |  ${rd(s"SUM(${sc("l_extendedprice", 2)}) / COUNT(${sc("l_extendedprice", 2)}) / 100.0", 4)} AS avg_price,
         |  ${rd(s"SUM(${sc("l_discount", 2)}) / COUNT(${sc("l_discount", 2)}) / 100.0", 4)} AS avg_disc,
         |  COUNT(*) AS count_order
         |FROM lineitem
         |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_asof_join" ->
      """WITH lo AS (
        |  SELECT l_orderkey, l_linenumber, o_custkey AS custkey, CAST(l_shipdate AS DATE) AS ship_date
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |),
        |q0 AS (
        |  SELECT o_custkey AS custkey, CAST(o_orderdate AS DATE) AS quote_date,
        |         o_orderkey AS quote_orderkey, o_totalprice AS quote_totalprice
        |  FROM orders
        |),
        |q1 AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY custkey, quote_date ORDER BY quote_orderkey DESC) AS rn FROM q0),
        |quotes AS (SELECT custkey, quote_date, quote_orderkey, quote_totalprice FROM q1 WHERE rn = 1)
        |SELECT lo.l_orderkey, lo.l_linenumber, lo.custkey, lo.ship_date,
        |       q.quote_orderkey, q.quote_totalprice
        |FROM lo ASOF LEFT JOIN quotes q
        |  ON lo.custkey = q.custkey AND lo.ship_date >= q.quote_date
        |ORDER BY lo.l_orderkey, lo.l_linenumber""".stripMargin,

    "q_session_windows" ->
      s"""WITH t AS (
         |  SELECT user_id, CAST(ts AS TIMESTAMP) AS et, value FROM events
         |),
         |s AS (
         |  SELECT *, CASE WHEN LAG(et) OVER w IS NULL OR et - LAG(et) OVER w >= INTERVAL 4 HOUR
         |                 THEN 1 ELSE 0 END AS brk
         |  FROM t WINDOW w AS (PARTITION BY user_id ORDER BY et)
         |),
         |g AS (
         |  SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY et ROWS UNBOUNDED PRECEDING) AS sid
         |  FROM s
         |)
         |SELECT user_id, MIN(et) AS session_start, MAX(et) + INTERVAL 4 HOUR AS session_end,
         |  COUNT(*) AS n_events,
         |  ${rd(s"SUM(${sc("value", 2)}) / 100.0", 2)} AS value_sum
         |FROM g GROUP BY user_id, sid
         |ORDER BY user_id, session_start""".stripMargin,

    // mirrors qApproxTopK: under-capacity approx_top_k is exact, so
    // the oracle is plain grouped counts with the same deterministic
    // (count DESC, item ASC) top-3 cut per source + the global row
    "q_approx_topk" ->
      """WITH base AS (SELECT source, lang FROM documents),
        |u AS (SELECT source, lang FROM base
        |      UNION ALL SELECT '__all__' AS source, lang FROM base),
        |c AS (SELECT source, lang AS item, CAST(COUNT(*) AS BIGINT) AS est_count
        |  FROM u GROUP BY source, lang),
        |r AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY source
        |    ORDER BY est_count DESC, item ASC) AS INTEGER) AS rank FROM c)
        |SELECT source, item, est_count, rank FROM r WHERE rank <= 3
        |ORDER BY source, rank""".stripMargin,

    // mirrors DailyAnalytics.marketBeta: day index = floor(mean of
    // scale-4 returns), exact integer sums, one final slope division
    "q_market_beta" ->
      s"""${dailyChain("returns")},
         |r AS (SELECT symbol, trade_date, ${sc4("daily_return_pct")} AS y
         |  FROM returns WHERE daily_return_pct IS NOT NULL),
         |mkt AS (SELECT trade_date,
         |    CAST(FLOOR(SUM(y) / CAST(COUNT(*) AS DOUBLE)) AS BIGINT) AS x
         |  FROM r GROUP BY trade_date),
         |g AS (SELECT symbol, CAST(COUNT(*) AS BIGINT) AS n_days,
         |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         |    SUM(CAST(x AS HUGEINT) * y) AS sxy, SUM(CAST(x AS HUGEINT) * x) AS sxx
         |  FROM r JOIN mkt USING (trade_date)
         |  GROUP BY symbol HAVING COUNT(*) >= 30)
         |SELECT symbol, n_days,
         |  ${rd("CAST(CAST(n_days AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE) / NULLIF(CAST(CAST(n_days AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE), 0)", 4)} AS beta
         |FROM g ORDER BY symbol""".stripMargin,

    // mirrors DailyAnalytics.maxDrawdown: running close peak, per-row
    // drawdown rounded BEFORE the min (same tree as the Spark side)
    "q_max_drawdown" ->
      s"""${dailyChain("returns")},
         |p AS (SELECT symbol, close_price,
         |    MAX(close_price) OVER (PARTITION BY symbol ORDER BY trade_date
         |      ROWS UNBOUNDED PRECEDING) AS peak
         |  FROM returns)
         |SELECT symbol, CAST(COUNT(*) AS BIGINT) AS n_days,
         |  MIN(${rd("(close_price - peak) / NULLIF(peak, 0) * 100", 4)}) AS max_drawdown_pct,
         |  MAX(close_price) AS peak_close
         |FROM p GROUP BY symbol ORDER BY symbol""".stripMargin,

    // mirrors DailyAnalytics.resampleOhlc at unit=week, priceScale=2:
    // first-open/last-close via arg_min/arg_max (trade_date unique per
    // symbol), vwap = Σ close_fp·volume / Σ volume / 100 exactly
    "q_resample_weekly" ->
      s"""${dailyChain("bars")}
         |SELECT symbol,
         |  CAST(DATE_TRUNC('week', trade_date) AS DATE) AS period_start,
         |  ARG_MIN(open_price, trade_date) AS open_price,
         |  MAX(high_price) AS high_price,
         |  MIN(low_price) AS low_price,
         |  ARG_MAX(close_price, trade_date) AS close_price,
         |  CAST(SUM(volume) AS BIGINT) AS volume,
         |  CAST(COUNT(*) AS BIGINT) AS n_days,
         |  ${rd("CAST(SUM(" + sc("close_price", 2) + " * volume) AS DOUBLE) / NULLIF(CAST(SUM(volume) AS BIGINT), 0) / 100.0", 4)} AS vwap
         |FROM bars GROUP BY 1, 2 ORDER BY symbol, period_start""".stripMargin,

    // mirrors DailyAnalytics.sharpeRatio: exact n/Σy longs, Σy² and
    // the variance numerator in HUGEINT (mirrors Spark DECIMAL(38,0) —
    // both cast the same exact integer to double), SQRT(252.0) shared
    "q_sharpe" ->
      s"""${dailyChain("returns")},
         |g AS (SELECT symbol, CAST(COUNT(*) AS BIGINT) AS n_days,
         |    CAST(SUM(y) AS BIGINT) AS sy,
         |    SUM(CAST(y AS HUGEINT) * y) AS syy
         |  FROM (SELECT symbol, ${sc4("daily_return_pct")} AS y
         |        FROM returns WHERE daily_return_pct IS NOT NULL)
         |  GROUP BY symbol HAVING COUNT(*) >= 30)
         |SELECT symbol, n_days,
         |  ${rd("CAST(sy AS DOUBLE) / n_days / 10000.0", 4)} AS mean_return_pct,
         |  ${rd("(CAST(sy AS DOUBLE) / n_days) / NULLIF(SQRT(CAST(CAST(n_days AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy AS DOUBLE) / (n_days * (n_days - 1))), 0) * SQRT(252.0)", 4)} AS sharpe_annual
         |FROM g ORDER BY symbol""".stripMargin,

    // mirrors DailyAnalytics.sortinoRatio: downside-only squared sum
    // in HUGEINT (Spark DECIMAL(38,0)), population semideviation /n,
    // the SAME scalar tree as q_sharpe otherwise
    "q_sortino" ->
      s"""${dailyChain("returns")},
         |g AS (SELECT symbol, CAST(COUNT(*) AS BIGINT) AS n_days,
         |    CAST(SUM(y) AS BIGINT) AS sy,
         |    SUM(CAST(CASE WHEN y < 0 THEN y ELSE 0 END AS HUGEINT)
         |        * (CASE WHEN y < 0 THEN y ELSE 0 END)) AS sdd
         |  FROM (SELECT symbol, ${sc4("daily_return_pct")} AS y
         |        FROM returns WHERE daily_return_pct IS NOT NULL)
         |  GROUP BY symbol HAVING COUNT(*) >= 30)
         |SELECT symbol, n_days,
         |  ${rd("CAST(sy AS DOUBLE) / n_days / 10000.0", 4)} AS mean_return_pct,
         |  ${rd("(CAST(sy AS DOUBLE) / n_days) / NULLIF(SQRT(CAST(sdd AS DOUBLE) / n_days), 0) * SQRT(252.0)", 4)} AS sortino_annual
         |FROM g ORDER BY symbol""".stripMargin,

    // mirrors DailyAnalytics.factorIC at lag=21: (momentum, forward
    // return) from one symbol window, day-grain sums in HUGEINT,
    // textbook correlation as one scalar tree
    "q_factor_ic" ->
      s"""${dailyChain("returns")},
         |b0 AS (SELECT symbol, trade_date, daily_return_pct,
         |    ${rd("(close_price - LAG(close_price, 21) OVER w) / NULLIF(LAG(close_price, 21) OVER w, 0) * 100", 4)} AS mom,
         |    LEAD(daily_return_pct, 1) OVER w AS fwd
         |  FROM returns WINDOW w AS (PARTITION BY symbol ORDER BY trade_date)),
         |f AS (SELECT trade_date, ${sc4("mom")} AS x, ${sc4("fwd")} AS y
         |  FROM b0 WHERE mom IS NOT NULL AND fwd IS NOT NULL),
         |g AS (SELECT trade_date, CAST(COUNT(*) AS BIGINT) AS n_symbols,
         |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         |    SUM(CAST(x AS HUGEINT) * y) AS sxy,
         |    SUM(CAST(x AS HUGEINT) * x) AS sxx,
         |    SUM(CAST(y AS HUGEINT) * y) AS syy
         |  FROM f GROUP BY trade_date HAVING COUNT(*) >= 5)
         |SELECT trade_date, n_symbols,
         |  ${rd("CAST(CAST(n_symbols AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE) / NULLIF(SQRT(CAST(CAST(n_symbols AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE)) * SQRT(CAST(CAST(n_symbols AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy AS DOUBLE)), 0)", 4)} AS ic
         |FROM g ORDER BY trade_date""".stripMargin,

    // mirrors DailyAnalytics.obv: signed cumulative volume; NULL
    // return (first day) falls to the ELSE 0 branch on both engines
    "q_obv" ->
      s"""${dailyChain("returns")}
         |SELECT symbol, trade_date, volume,
         |  CAST(SUM(CASE WHEN daily_return_pct > 0 THEN volume
         |                WHEN daily_return_pct < 0 THEN -volume
         |                ELSE 0 END)
         |    OVER (PARTITION BY symbol ORDER BY trade_date
         |          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS obv
         |FROM returns ORDER BY symbol, trade_date""".stripMargin,

    // mirrors DailyAnalytics.stochastic at k=14, d=3: %K rd'd to 2dp,
    // re-scaled to longs, THEN averaged for %D (exact SMA discipline)
    "q_stochastic" ->
      s"""${dailyChain("bars")},
         |k AS (SELECT symbol, trade_date, close_price,
         |    ${rd("(close_price - MIN(low_price) OVER w14) / NULLIF(MAX(high_price) OVER w14 - MIN(low_price) OVER w14, 0) * 100", 2)} AS pct_k
         |  FROM bars
         |  WINDOW w14 AS (PARTITION BY symbol ORDER BY trade_date
         |                 ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
         |SELECT symbol, trade_date, close_price, pct_k,
         |  ${rd("AVG(" + sc("pct_k", 2) + ") OVER w3 / 100.0", 2)} AS pct_d
         |FROM k
         |WINDOW w3 AS (PARTITION BY symbol ORDER BY trade_date
         |              ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
         |ORDER BY symbol, trade_date""".stripMargin,

    // mirrors DailyAnalytics.emaClose at n=12, priceScale=2: the SAME
    // integer recursion — Spark `aggregate ... div` ≡ DuckDB
    // list_reduce with `//` (fold seeded by the first element)
    "q_ema" ->
      s"""${dailyChain("bars")},
         |g AS (SELECT symbol,
         |    list(${sc("close_price", 2)} ORDER BY trade_date) AS prices
         |  FROM bars GROUP BY symbol)
         |SELECT symbol, CAST(len(prices) AS BIGINT) AS n_days,
         |  ${rd("CAST(list_reduce(prices, (acc, x) -> (2 * x + 11 * acc) // 13) AS DOUBLE) / 100.0", 4)} AS ema_12
         |FROM g ORDER BY symbol""".stripMargin,

    // mirrors DailyAnalytics.macd(12,26,9): list-state fold (array,
    // NOT struct — DuckDB 1.0 list_reduce mis-evaluates repeated
    // subexpressions across struct_pack fields), same div recursion
    "q_macd" ->
      s"""${dailyChain("bars")},
         |g AS (SELECT symbol,
         |    list(${sc("close_price", 2)} ORDER BY trade_date) AS prices
         |  FROM bars GROUP BY symbol),
         |f AS (SELECT symbol, CAST(len(prices) AS BIGINT) AS n_days,
         |    list_reduce(list_transform(prices, p -> [p, p, 0::BIGINT]),
         |      (acc, x) -> [ (2 * x[1] + 11 * acc[1]) // 13,
         |                    (2 * x[1] + 25 * acc[2]) // 27,
         |                    (2 * ((2 * x[1] + 11 * acc[1]) // 13
         |                          - (2 * x[1] + 25 * acc[2]) // 27)
         |                     + 8 * acc[3]) // 10 ]) AS st
         |  FROM g)
         |SELECT symbol, n_days,
         |  ${rd("CAST(st[1] - st[2] AS DOUBLE) / 100.0", 4)} AS macd_12_26,
         |  ${rd("CAST(st[3] AS DOUBLE) / 100.0", 4)} AS signal_9,
         |  ${rd("CAST(st[1] - st[2] - st[3] AS DOUBLE) / 100.0", 4)} AS histogram
         |FROM f ORDER BY symbol""".stripMargin,

    // mirrors DailyAnalytics.indicatorBands: scale-2 fixed-point
    // frames, lag-staged true range (CASE on day one, not
    // null-ignoring GREATEST), identical rd4 trees
    "q_indicator_bands" ->
      s"""${dailyChain("bars")},
         |b AS (SELECT symbol, trade_date, close_price, high_price, low_price,
         |    ${sc("close_price", 2)} AS cfp, ${sc("high_price", 2)} AS hfp,
         |    ${sc("low_price", 2)} AS lfp,
         |    LAG(${sc("close_price", 2)}) OVER (PARTITION BY symbol ORDER BY trade_date) AS pcfp
         |  FROM bars),
         |t AS (SELECT *, CASE WHEN pcfp IS NULL THEN hfp - lfp
         |    ELSE GREATEST(hfp - lfp, ABS(hfp - pcfp), ABS(lfp - pcfp)) END AS trfp
         |  FROM b),
         |wnd AS (SELECT symbol, trade_date, close_price,
         |    AVG(cfp) OVER w20 / 100.0 AS mid,
         |    STDDEV_SAMP(cfp) OVER w20 / 100.0 AS sd,
         |    AVG(trfp) OVER w14 / 100.0 AS atr,
         |    MAX(high_price) OVER w20 AS donchian_high,
         |    MIN(low_price) OVER w20 AS donchian_low
         |  FROM t
         |  WINDOW
         |    w20 AS (PARTITION BY symbol ORDER BY trade_date ROWS BETWEEN 19 PRECEDING AND CURRENT ROW),
         |    w14 AS (PARTITION BY symbol ORDER BY trade_date ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
         |SELECT symbol, trade_date, close_price,
         |  ${rd("mid", 4)} AS bb_mid,
         |  ${rd("mid + 2 * sd", 4)} AS bb_upper,
         |  ${rd("mid - 2 * sd", 4)} AS bb_lower,
         |  ${rd("(close_price - (mid - 2 * sd)) / NULLIF(4 * sd, 0)", 4)} AS pct_b,
         |  ${rd("4 * sd / NULLIF(mid, 0)", 4)} AS bb_bandwidth,
         |  ${rd("atr", 4)} AS atr_14,
         |  ${rd("mid + 2 * atr", 4)} AS kc_upper,
         |  ${rd("mid - 2 * atr", 4)} AS kc_lower,
         |  donchian_high, donchian_low,
         |  ${rd("(donchian_high + donchian_low) / 2", 4)} AS donchian_mid
         |FROM wnd ORDER BY symbol, trade_date""".stripMargin,

    // mirrors DailyAnalytics.crossSectionalZ: day stats exact (HUGEINT
    // for Σy² mirroring Spark's DECIMAL(38,0)), same z tree
    "q_cross_sectional_z" ->
      s"""${dailyChain("returns")},
         |r AS (SELECT symbol, trade_date, ${sc4("daily_return_pct")} AS y
         |  FROM returns WHERE daily_return_pct IS NOT NULL),
         |st AS (SELECT trade_date, CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(SUM(y) AS BIGINT) AS sy, SUM(CAST(y AS HUGEINT) * y) AS syy
         |  FROM r GROUP BY trade_date HAVING COUNT(*) >= 2)
         |SELECT symbol, trade_date,
         |  ${rd("CAST(y AS DOUBLE) / 10000.0", 4)} AS return_pct,
         |  ${rd("(y - CAST(sy AS DOUBLE) / n) / NULLIF(SQRT(CAST(CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy AS DOUBLE) / (n * (n - 1))), 0)", 4)} AS z
         |FROM r JOIN st USING (trade_date)
         |ORDER BY symbol, trade_date""".stripMargin,

    // mirrors DailyAnalytics.momentumDeciles at lag=21: same rd'd
    // momentum, ntile ordered by (momentum, symbol) for determinism
    "q_momentum_deciles" ->
      s"""${dailyChain("bars")},
         |m AS (SELECT symbol, trade_date,
         |    ${rd("(close_price - LAG(close_price, 21) OVER w) / NULLIF(LAG(close_price, 21) OVER w, 0) * 100", 4)} AS momentum_pct
         |  FROM bars WINDOW w AS (PARTITION BY symbol ORDER BY trade_date))
         |SELECT symbol, trade_date, momentum_pct,
         |  CAST(NTILE(10) OVER (PARTITION BY trade_date
         |    ORDER BY momentum_pct, symbol) AS INTEGER) AS decile
         |FROM m WHERE momentum_pct IS NOT NULL
         |ORDER BY symbol, trade_date""".stripMargin,

    // mirrors DailyAnalytics.decileBacktest: deciles re-derived as in
    // q_momentum_deciles, per-(decile, day) ⌊Σy/n⌋ exact mean, then
    // the SAME left-assoc compounding fold (list_reduce over a list
    // prepended with 1.0 ≡ Spark aggregate seeded 1.0)
    "q_decile_backtest" ->
      s"""${dailyChain("returns")},
         |mo AS (SELECT symbol, trade_date,
         |    ${rd("(close_price - LAG(close_price, 21) OVER w) / NULLIF(LAG(close_price, 21) OVER w, 0) * 100", 4)} AS momentum_pct
         |  FROM returns WINDOW w AS (PARTITION BY symbol ORDER BY trade_date)),
         |dc AS (SELECT symbol, trade_date,
         |    CAST(NTILE(10) OVER (PARTITION BY trade_date
         |      ORDER BY momentum_pct, symbol) AS INTEGER) AS decile
         |  FROM mo WHERE momentum_pct IS NOT NULL),
         |j AS (SELECT dc.decile, dc.trade_date, ${sc4("r.daily_return_pct")} AS y
         |  FROM dc JOIN returns r
         |    ON dc.symbol = r.symbol AND dc.trade_date = r.trade_date
         |  WHERE r.daily_return_pct IS NOT NULL),
         |p AS (SELECT decile, trade_date,
         |    CAST(FLOOR(SUM(y) / CAST(COUNT(*) AS DOUBLE)) AS BIGINT) AS m
         |  FROM j GROUP BY decile, trade_date),
         |g AS (SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_days,
         |    CAST(SUM(m) AS BIGINT) AS sm,
         |    list(m ORDER BY trade_date) AS ms
         |  FROM p GROUP BY decile)
         |SELECT decile, n_days,
         |  ${rd("CAST(sm AS DOUBLE) / n_days / 10000.0", 4)} AS mean_daily_pct,
         |  (list_reduce(list_prepend(1.0, list_transform(
         |     list_slice(ms, greatest(1, len(ms) - 59), len(ms)),
         |     v -> 1.0 + v / 1e6)), (a, b) -> a * b) - 1.0) * 100 AS cum_return_pct
         |FROM g ORDER BY decile""".stripMargin,

    // mirrors DailyAnalytics.wilderRsiExactFold at period=14: the SAME
    // [i, Σg, Σl, avgG, avgL] integer fold (seed mean at i=14, Wilder
    // step after), then one mirrored RSI tree
    "q_wilder_rsi" ->
      s"""${dailyChain("returns")},
         |g AS (SELECT symbol,
         |    list(${sc4("daily_return_pct")} ORDER BY trade_date) AS ys
         |  FROM returns WHERE daily_return_pct IS NOT NULL
         |  GROUP BY symbol),
         |f AS (SELECT symbol, CAST(len(ys) AS BIGINT) AS n_rets,
         |    list_reduce(
         |      list_transform(ys, y -> [1::BIGINT, greatest(y, 0),
         |                               greatest(-y, 0), 0::BIGINT, 0::BIGINT]),
         |      (acc, x) -> [
         |        acc[1] + 1,
         |        acc[2] + x[2],
         |        acc[3] + x[3],
         |        CASE WHEN acc[1] + 1 < 14 THEN 0
         |             WHEN acc[1] + 1 = 14 THEN (acc[2] + x[2]) // 14
         |             ELSE (13 * acc[4] + x[2]) // 14 END,
         |        CASE WHEN acc[1] + 1 < 14 THEN 0
         |             WHEN acc[1] + 1 = 14 THEN (acc[3] + x[3]) // 14
         |             ELSE (13 * acc[5] + x[3]) // 14 END]) AS st
         |  FROM g)
         |SELECT symbol, n_rets,
         |  ${rd("100 - 100 / (1 + CAST(st[4] AS DOUBLE) / NULLIF(CAST(st[5] AS DOUBLE), 0))", 2)} AS rsi_wilder
         |FROM f WHERE n_rets >= 14 ORDER BY symbol""".stripMargin,

    // mirrors TickAnalytics.microstructureDaily at priceScale=2: exact
    // Σ(Δp_fp)² longs, direction counts, one mirrored tree per output
    "q_microstructure" ->
      s"""WITH ${Adapters.ticksSql},
         |d AS (SELECT symbol, CAST(event_time AS DATE) AS trade_date,
         |    ${sc("price", 2)} - LAG(${sc("price", 2)}) OVER w AS dp
         |  FROM ticks
         |  WINDOW w AS (PARTITION BY symbol, CAST(event_time AS DATE)
         |               ORDER BY event_time)),
         |g AS (SELECT symbol, trade_date,
         |    CAST(COUNT(*) AS BIGINT) AS n_moves,
         |    CAST(SUM(dp * dp) AS BIGINT) AS rv_fp2,
         |    CAST(SUM(CASE WHEN dp > 0 THEN 1 ELSE 0 END) AS BIGINT) AS upticks,
         |    CAST(SUM(CASE WHEN dp < 0 THEN 1 ELSE 0 END) AS BIGINT) AS downticks,
         |    CAST(SUM(CASE WHEN dp = 0 THEN 1 ELSE 0 END) AS BIGINT) AS zeroticks
         |  FROM d WHERE dp IS NOT NULL GROUP BY symbol, trade_date)
         |SELECT symbol, trade_date, n_moves, upticks, downticks, zeroticks,
         |  ${rd("SQRT(CAST(rv_fp2 AS DOUBLE)) / 100.0", 4)} AS realized_vol,
         |  ${rd("CAST(upticks - downticks AS DOUBLE) / NULLIF(upticks + downticks, 0)", 4)} AS tick_imbalance
         |FROM g ORDER BY symbol, trade_date""".stripMargin,

    // mirrors Profiling.distributionDrift over doc_id-parity halves:
    // exact integer bucketing ((v·nB) div range), numerator in HUGEINT
    // (mirrors Spark DECIMAL(38,0)), ONE final division
    "q_distribution_drift" ->
      s"""WITH ha AS (SELECT LEAST(19, GREATEST(0, ((length(text) - 0) * 20) // 600)) AS bucket,
         |    CAST(COUNT(*) AS BIGINT) AS ca
         |  FROM documents WHERE doc_id % 2 = 0 GROUP BY 1),
         |hb AS (SELECT LEAST(19, GREATEST(0, ((length(text) - 0) * 20) // 600)) AS bucket,
         |    CAST(COUNT(*) AS BIGINT) AS cb
         |  FROM documents WHERE doc_id % 2 = 1 GROUP BY 1),
         |j AS (SELECT COALESCE(ca, 0) AS ca, COALESCE(cb, 0) AS cb,
         |    (SELECT SUM(ca) FROM ha) AS na, (SELECT SUM(cb) FROM hb) AS nb
         |  FROM ha FULL OUTER JOIN hb USING (bucket))
         |SELECT CAST(MAX(na) AS BIGINT) AS n_a, CAST(MAX(nb) AS BIGINT) AS n_b,
         |  CAST(SUM(CASE WHEN ca > 0 THEN 1 ELSE 0 END) AS BIGINT) AS buckets_a,
         |  CAST(SUM(CASE WHEN cb > 0 THEN 1 ELSE 0 END) AS BIGINT) AS buckets_b,
         |  ${rd("CAST(SUM(ABS(CAST(ca AS HUGEINT) * nb - CAST(cb AS HUGEINT) * na)) AS DOUBLE) / (2.0 * MAX(na) * MAX(nb))", 6)} AS drift_tvd
         |FROM j""".stripMargin,

    // mirrors TextAnalysis.bpeEncode at numMerges=8: same learn CTE as
    // q_bpe_merges, merges carried as a correlated list column, the 8
    // greedy folds unrolled as CTEs (list_reduce, single-elem-list
    // elements; empty docs guarded — Spark's empty-init fold yields [])
    "q_bpe_encode" -> {
      val foldCtes = (1 to 8).map { i =>
        s"""e$i AS (SELECT doc_id, n_subwords, m,
           |  CASE WHEN len(toks) = 0 THEN []::VARCHAR[] ELSE
           |    list_reduce(list_transform(toks, tk -> [tk]),
           |      (acc, x) -> CASE
           |        WHEN acc[-1] = split_part(m[$i], ' ', 1)
           |             AND x[1] = split_part(m[$i], ' ', 2)
           |          THEN acc[1:len(acc)-1] || [replace(m[$i], ' ', '')]
           |        ELSE acc || x END) END AS toks
           |  FROM e${i - 1})""".stripMargin
      }.mkString(",\n")
      s"""WITH t AS (
         |  SELECT doc_id,
         |    regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]') AS toks
         |  FROM documents
         |),
         |p AS (
         |  SELECT unnest(list_transform(range(1, len(toks)),
         |    i -> toks[i] || ' ' || toks[i+1])) AS pair
         |  FROM t
         |),
         |mg AS (
         |  SELECT list(pair ORDER BY n DESC, pair) AS m FROM (
         |    SELECT pair, COUNT(*) AS n FROM p GROUP BY pair
         |    ORDER BY n DESC, pair LIMIT 8)
         |),
         |e0 AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_subwords,
         |       m, toks FROM t, mg),
         |$foldCtes
         |SELECT doc_id, n_subwords, CAST(len(toks) AS BIGINT) AS n_bpe,
         |  md5(array_to_string(
         |    list_transform(toks, x -> len(x)::VARCHAR || ':' || x), ',')) AS bpe_md5
         |FROM e8 ORDER BY doc_id""".stripMargin
    },

    // mirrors Similarity.quantizeInt8: identical float→double casts
    // and ONE IEEE division per element, so even `scale` hash-matches
    "q_embed_quantize" ->
      s"""WITH a AS (
         |  SELECT vec_id, embedding AS v,
         |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS amax
         |  FROM embeddings
         |)
         |, r AS (SELECT vec_id,
         |  CAST(len(v) AS INTEGER) AS n_dims,
         |  amax / 127.0 AS scale,
         |  CASE WHEN amax = 0.0 THEN list_transform(v, x -> 0)
         |       ELSE list_transform(v,
         |         x -> CAST(FLOOR(CAST(x AS DOUBLE) / (amax / 127.0) + 0.5) AS INTEGER))
         |  END AS q
         |FROM a),
         |u AS (SELECT vec_id, n_dims, scale, q,
         |  unnest(range(1, len(q) + 1)) AS j FROM r)
         |SELECT vec_id, n_dims, scale, CAST(j - 1 AS INTEGER) AS k, q[j] AS qv
         |FROM u ORDER BY vec_id, k""".stripMargin,

    // mirrors DailyAnalytics.calendarFill: generate_series scaffold,
    // LAST_VALUE IGNORE NULLS forward fill over the symbol window
    "q_calendar_fill" ->
      s"""${dailyChain("bars")},
         |sp AS (SELECT symbol, MIN(trade_date) AS d0, MAX(trade_date) AS d1
         |  FROM bars GROUP BY symbol),
         |sc AS (SELECT symbol,
         |    CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS trade_date
         |  FROM sp),
         |j AS (SELECT sc.symbol, sc.trade_date, b.close_price, b.volume
         |  FROM sc LEFT JOIN bars b USING (symbol, trade_date))
         |SELECT symbol, trade_date,
         |  close_price IS NULL AS is_gap,
         |  LAST_VALUE(close_price IGNORE NULLS) OVER (
         |    PARTITION BY symbol ORDER BY trade_date
         |    ROWS UNBOUNDED PRECEDING) AS close_filled,
         |  CAST(COALESCE(volume, 0) AS BIGINT) AS volume
         |FROM j ORDER BY symbol, trade_date""".stripMargin,

    // mirrors DailyAnalytics.walkForwardSplits(5, 5): exact ⌊idx·k/n⌋
    // blocks, embargo = test_start − 6 days, excluded rows dropped
    "q_walk_forward" ->
      s"""${dailyChain("bars")},
         |d AS (SELECT DISTINCT trade_date FROM bars),
         |i AS (SELECT trade_date,
         |    CAST(ROW_NUMBER() OVER (ORDER BY trade_date) - 1 AS BIGINT) AS idx,
         |    CAST(COUNT(*) OVER () AS BIGINT) AS n FROM d),
         |f AS (SELECT trade_date, (idx * 5) // n AS date_fold FROM i),
         |b AS (SELECT date_fold AS fold, MIN(trade_date) AS test_start
         |  FROM f GROUP BY 1),
         |r AS (SELECT fold, trade_date,
         |    CASE WHEN date_fold = fold THEN 'test'
         |         WHEN trade_date <= test_start - 6 THEN 'train'
         |         ELSE 'excluded' END AS role
         |  FROM f, b)
         |SELECT fold, trade_date, role FROM r WHERE role <> 'excluded'
         |ORDER BY fold, trade_date""".stripMargin,

    // mirrors DailyAnalytics.seasonalDecompose: centered MA-5 trend
    // (full windows), x5-scaled integer detrending, (symbol, dow)
    // seasonal means, identical division trees
    "q_seasonal_decompose" ->
      s"""${dailyChain("returns")},
         |base AS (
         |  SELECT symbol, trade_date, ${sc4("daily_return_pct")} AS x,
         |    CAST(dayofweek(trade_date) + 1 AS INTEGER) AS dow,
         |    SUM(${sc4("daily_return_pct")}) OVER w5 AS t5,
         |    COUNT(*) OVER w5 AS c5
         |  FROM returns WHERE daily_return_pct IS NOT NULL
         |  WINDOW w5 AS (PARTITION BY symbol ORDER BY trade_date
         |    ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING)
         |),
         |f AS (SELECT *, 5 * x - t5 AS d5 FROM base WHERE c5 = 5),
         |s AS (
         |  SELECT symbol, dow, CAST(SUM(d5) AS BIGINT) AS sd5,
         |    CAST(COUNT(*) AS BIGINT) AS cn
         |  FROM f GROUP BY symbol, dow
         |)
         |SELECT f.symbol, f.trade_date, f.dow,
         |  ${rd("CAST(f.x AS DOUBLE) / 10000.0", 4)} AS value,
         |  ${rd("CAST(f.t5 AS DOUBLE) / 5 / 10000.0", 4)} AS trend,
         |  ${rd("CAST(s.sd5 AS DOUBLE) / (5 * s.cn) / 10000.0", 4)} AS seasonal,
         |  ${rd("(CAST(f.d5 AS DOUBLE) / 5 - CAST(s.sd5 AS DOUBLE) / (5 * s.cn)) / 10000.0", 4)} AS residual
         |FROM f JOIN s ON f.symbol = s.symbol AND f.dow = s.dow
         |ORDER BY f.symbol, f.trade_date""".stripMargin,

    // mirrors DailyAnalytics.aroon(25): packed-key windowed argmax
    // (cents*1e6 + rn, ties -> most recent), modulo unpack
    "q_aroon" ->
      s"""${dailyChain("bars")},
         |base AS (
         |  SELECT symbol, trade_date,
         |    ${sc("high_price", 2)} AS hc, ${sc("low_price", 2)} AS lc,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY symbol ORDER BY trade_date) AS BIGINT) AS rn
         |  FROM bars
         |),
         |k AS (
         |  SELECT symbol, trade_date, rn,
         |    MAX(hc * 1000000 + rn) OVER w AS up_key,
         |    MIN(lc * 1000000 + (1000000 - rn)) OVER w AS dn_key
         |  FROM base
         |  WINDOW w AS (PARTITION BY symbol ORDER BY trade_date
         |    ROWS BETWEEN 25 PRECEDING AND CURRENT ROW)
         |),
         |s AS (
         |  SELECT symbol, trade_date,
         |    rn - up_key % 1000000 AS since_high,
         |    rn - (1000000 - dn_key % 1000000) AS since_low
         |  FROM k WHERE rn > 25
         |)
         |SELECT symbol, trade_date,
         |  CAST(since_high AS BIGINT) AS since_high,
         |  CAST(since_low AS BIGINT) AS since_low,
         |  ${rd("100.0 * (25 - since_high) / 25", 2)} AS aroon_up,
         |  ${rd("100.0 * (25 - since_low) / 25", 2)} AS aroon_down,
         |  ${rd("100.0 * (since_low - since_high) / 25", 2)} AS aroon_osc
         |FROM s ORDER BY symbol, trade_date""".stripMargin,

    // mirrors DailyAnalytics.forecastMase(w=5): integer absolute-error
    // sums |w*x - S5| and |x - prev| on the same eligible rows
    "q_mase" ->
      s"""${dailyChain("returns")},
         |base AS (
         |  SELECT symbol, ${sc4("daily_return_pct")} AS x,
         |    ROW_NUMBER() OVER w AS rn,
         |    LAG(${sc4("daily_return_pct")}) OVER w AS prev,
         |    SUM(${sc4("daily_return_pct")}) OVER (PARTITION BY symbol
         |      ORDER BY trade_date ROWS BETWEEN 5 PRECEDING AND 1 PRECEDING) AS s5
         |  FROM returns WHERE daily_return_pct IS NOT NULL
         |  WINDOW w AS (PARTITION BY symbol ORDER BY trade_date)
         |),
         |g AS (
         |  SELECT symbol, CAST(COUNT(*) AS BIGINT) AS n_eval,
         |    CAST(SUM(ABS(x - prev)) AS BIGINT) AS sae_naive,
         |    CAST(SUM(ABS(5 * x - s5)) AS BIGINT) AS sae_sma_w
         |  FROM base WHERE rn > 5 GROUP BY symbol
         |)
         |SELECT symbol, n_eval,
         |  ${rd("CAST(sae_naive AS DOUBLE) / n_eval / 10000.0", 4)} AS mae_naive,
         |  ${rd("CAST(sae_sma_w AS DOUBLE) / (5 * n_eval) / 10000.0", 4)} AS mae_sma,
         |  ${rd("CAST(sae_sma_w AS DOUBLE) / (5 * sae_naive)", 4)} AS mase
         |FROM g ORDER BY symbol""".stripMargin,

    // mirrors DailyAnalytics.minVariancePair: two lexicographically-
    // first symbols, common-date panel, n-scaled DECIMAL/HUGEINT
    // moments, clamped closed-form weight, identical double trees
    "q_min_variance" ->
      s"""${dailyChain("returns")},
         |syms AS (
         |  SELECT symbol, ROW_NUMBER() OVER (ORDER BY symbol) AS rnk FROM (
         |    SELECT DISTINCT symbol FROM returns) ORDER BY symbol LIMIT 2
         |),
         |panel AS (
         |  SELECT r.symbol, s.rnk, r.trade_date, ${sc4("r.daily_return_pct")} AS x
         |  FROM returns r JOIN syms s ON r.symbol = s.symbol
         |  WHERE r.daily_return_pct IS NOT NULL
         |),
         |j AS (
         |  SELECT a.symbol AS sym_a, b.symbol AS sym_b, a.x AS xa, b.x AS xb
         |  FROM (SELECT * FROM panel WHERE rnk = 1) a
         |  JOIN (SELECT * FROM panel WHERE rnk = 2) b ON a.trade_date = b.trade_date
         |),
         |m AS (
         |  SELECT sym_a, sym_b, CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(SUM(xa) AS BIGINT) AS sa, CAST(SUM(xb) AS BIGINT) AS sb,
         |    SUM(CAST(xa AS HUGEINT) * CAST(xa AS HUGEINT)) AS saa,
         |    SUM(CAST(xb AS HUGEINT) * CAST(xb AS HUGEINT)) AS sbb,
         |    SUM(CAST(xa AS HUGEINT) * CAST(xb AS HUGEINT)) AS sab
         |  FROM j GROUP BY sym_a, sym_b
         |),
         |v AS (
         |  SELECT sym_a, sym_b, n,
         |    CAST(n * saa - CAST(sa AS HUGEINT) * sa AS DOUBLE) AS va,
         |    CAST(n * sbb - CAST(sb AS HUGEINT) * sb AS DOUBLE) AS vb,
         |    CAST(n * sab - CAST(sa AS HUGEINT) * sb AS DOUBLE) AS cab,
         |    CAST(n * (n - 1) AS DOUBLE) * 1e8 AS norm
         |  FROM m
         |),
         |wts AS (
         |  SELECT *, LEAST(GREATEST((vb - cab) / (va + vb - 2.0 * cab), 0.0), 1.0) AS wa
         |  FROM v
         |)
         |SELECT sym_a, sym_b, n AS n_days,
         |  ${rd("wa", 4)} AS w_a, ${rd("1.0 - wa", 4)} AS w_b,
         |  ${rd("va / norm", 6)} AS var_a, ${rd("vb / norm", 6)} AS var_b,
         |  ${rd("cab / norm", 6)} AS cov_ab,
         |  ${rd("(wa * wa * va + (1.0 - wa) * (1.0 - wa) * vb + 2.0 * wa * (1.0 - wa) * cab) / norm", 6)} AS port_var
         |FROM wts""".stripMargin,

    // mirrors DailyAnalytics.cusumChangepoint: n-scaled integer CUSUM
    // n*C_i - i*Sx, argmax by (|dev| DESC, date ASC), segment means
    // from the peak row's own C_i/i
    "q_cusum" ->
      s"""${dailyChain("returns")},
         |base AS (
         |  SELECT symbol, trade_date, ${sc4("daily_return_pct")} AS x,
         |    CAST(ROW_NUMBER() OVER w AS BIGINT) AS i,
         |    SUM(${sc4("daily_return_pct")}) OVER w AS c,
         |    CAST(COUNT(*) OVER wa AS BIGINT) AS n,
         |    SUM(${sc4("daily_return_pct")}) OVER wa AS sx
         |  FROM returns WHERE daily_return_pct IS NOT NULL
         |  WINDOW
         |    w AS (PARTITION BY symbol ORDER BY trade_date
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         |    wa AS (PARTITION BY symbol)
         |),
         |dev AS (
         |  SELECT *, n * c - i * sx AS dev FROM base
         |),
         |rk AS (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY symbol
         |    ORDER BY ABS(dev) DESC, trade_date ASC) AS rk FROM dev
         |)
         |SELECT symbol, trade_date AS cp_date, n AS n_days,
         |  CAST(i AS INTEGER) AS cp_index,
         |  ${rd("CAST(dev AS DOUBLE) / n / 10000.0", 4)} AS cusum_peak,
         |  ${rd("CAST(c AS DOUBLE) / i / 10000.0", 4)} AS mean_before,
         |  CASE WHEN n > i
         |    THEN ${rd("CAST(sx - c AS DOUBLE) / (n - i) / 10000.0", 4)} END AS mean_after
         |FROM rk WHERE rk = 1 ORDER BY symbol""".stripMargin,

    // mirrors DailyAnalytics.hurstExponent: per window w the blocks
    // are rn // w, dev = w*cumsum - i*blocksum (exact integers, no
    // division), S^2 from w*Sxx - Sx^2, block R/S floor-rounded to
    // 6 dp before the order-free average; the ln() pair in H is the
    // documented exception to the no-log rule (<=2 ulp, absorbed by
    // the 4-dp round), denominator 2*ln2 embedded as the same literal
    "q_hurst" -> {
      val ln2x2 = s"CAST('${2.0 * math.log(2.0)}' AS DOUBLE)"
      def wCtes(w: Int) =
        s"""b$w AS (
           |  SELECT symbol, rn // $w AS blk, x,
           |    $w * SUM(x) OVER (PARTITION BY symbol, rn // $w ORDER BY rn)
           |      - ROW_NUMBER() OVER (PARTITION BY symbol, rn // $w ORDER BY rn)
           |        * SUM(x) OVER (PARTITION BY symbol, rn // $w) AS dev,
           |    COUNT(*) OVER (PARTITION BY symbol, rn // $w) AS cnt
           |  FROM base
           |),
           |s$w AS (
           |  SELECT symbol, blk, MAX(dev) - MIN(dev) AS r_scaled,
           |    SUM(x) AS sx, SUM(x * x) AS sxx
           |  FROM b$w WHERE cnt = $w GROUP BY symbol, blk
           |),
           |r$w AS (
           |  SELECT symbol,
           |    ${sc(s"(CAST(r_scaled AS DOUBLE) / $w) / sqrt(CAST($w * sxx - sx * sx AS DOUBLE) / ${w * (w - 1)})", 6)} AS rs6i
           |  FROM s$w WHERE $w * sxx - sx * sx > 0
           |),
           |a$w AS (SELECT symbol, CAST(SUM(rs6i) AS DOUBLE) / COUNT(*) / 1000000.0 AS rs FROM r$w GROUP BY symbol)""".stripMargin
      s"""${dailyChain("returns")},
         |base AS (
         |  SELECT symbol, ${sc4("daily_return_pct")} AS x,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY symbol ORDER BY trade_date) - 1 AS BIGINT) AS rn
         |  FROM returns WHERE daily_return_pct IS NOT NULL
         |),
         |${Seq(8, 16, 32).map(wCtes).mkString(",\n")},
         |days AS (SELECT symbol, CAST(COUNT(*) AS BIGINT) AS n_days FROM base GROUP BY symbol)
         |SELECT d.symbol, d.n_days,
         |  ${rd("a8.rs", 4)} AS rs_8,
         |  ${rd("a16.rs", 4)} AS rs_16,
         |  ${rd("a32.rs", 4)} AS rs_32,
         |  ${rd(s"(LN(a32.rs) - LN(a8.rs)) / $ln2x2", 4)} AS hurst
         |FROM days d
         |JOIN a8 ON d.symbol = a8.symbol
         |JOIN a16 ON d.symbol = a16.symbol
         |JOIN a32 ON d.symbol = a32.symbol
         |ORDER BY d.symbol""".stripMargin
    },

    // mirrors DailyAnalytics.conformalIntervals(0.9): persistence
    // nonconformity |r_t - r_{t-1}|, even/odd symbol_row_num split,
    // qhat = interpolation-free order statistic at
    // k = least(ceil((n_cal+1)*0.9), n_cal); the 0.9 is string-cast
    // to DOUBLE so both engines run the same IEEE multiply (a bare
    // 0.9 literal would be DECIMAL here and diverge at exact-integer
    // products); coverage compares the RAW qhat double
    "q_conformal" ->
      s"""${dailyChain("returns")},
         |sc0 AS (
         |  SELECT symbol, trade_date, symbol_row_num, daily_return_pct,
         |    LAG(daily_return_pct) OVER (PARTITION BY symbol ORDER BY trade_date) AS pred
         |  FROM returns
         |),
         |scored AS (
         |  SELECT symbol, trade_date, symbol_row_num,
         |    ABS(daily_return_pct - pred) AS score
         |  FROM sc0 WHERE daily_return_pct IS NOT NULL AND pred IS NOT NULL
         |),
         |cal AS (SELECT * FROM scored WHERE symbol_row_num % 2 = 0),
         |caln AS (SELECT symbol, CAST(COUNT(*) AS BIGINT) AS n_cal FROM cal GROUP BY symbol),
         |calr AS (
         |  SELECT symbol, score,
         |    ROW_NUMBER() OVER (PARTITION BY symbol ORDER BY score, trade_date) AS rn
         |  FROM cal
         |),
         |qh AS (
         |  SELECT r.symbol, n.n_cal, r.score AS qhat
         |  FROM calr r JOIN caln n ON r.symbol = n.symbol
         |  WHERE r.rn = LEAST(
         |    CAST(CEIL((n.n_cal + 1) * CAST('0.9' AS DOUBLE)) AS BIGINT), n.n_cal)
         |)
         |SELECT q.symbol, q.n_cal, ${rd("q.qhat", 4)} AS qhat,
         |  CAST(COUNT(*) AS BIGINT) AS n_eval,
         |  CAST(SUM(CASE WHEN e.score <= q.qhat THEN 1 ELSE 0 END) AS BIGINT) AS n_covered,
         |  ${rd("SUM(CASE WHEN e.score <= q.qhat THEN 1 ELSE 0 END) / CAST(COUNT(*) AS DOUBLE)", 4)} AS coverage
         |FROM (SELECT * FROM scored WHERE symbol_row_num % 2 = 1) e
         |JOIN qh q ON e.symbol = q.symbol
         |GROUP BY q.symbol, q.n_cal, q.qhat
         |ORDER BY q.symbol""".stripMargin,

    // mirrors DailyAnalytics.varCvar(0.05, 20): k-th order statistic
    // (no quantile interpolation — engines disagree there), tail sum
    // exact via list_sum over the sorted prefix
    "q_var_cvar" ->
      s"""${dailyChain("returns")},
         |g AS (SELECT symbol, list(y ORDER BY y) AS ys FROM (
         |    SELECT symbol, ${sc4("daily_return_pct")} AS y
         |    FROM returns WHERE daily_return_pct IS NOT NULL)
         |  GROUP BY symbol),
         |f AS (SELECT symbol, CAST(len(ys) AS BIGINT) AS n_days,
         |    CAST(FLOOR(0.05 * (len(ys) - 1)) AS INTEGER) + 1 AS k, ys
         |  FROM g WHERE len(ys) >= 20)
         |SELECT symbol, n_days,
         |  ${rd("CAST(ys[k] AS DOUBLE) / 10000.0", 4)} AS var_pct,
         |  ${rd("CAST(list_sum(ys[1:k]) AS DOUBLE) / k / 10000.0", 4)} AS cvar_pct
         |FROM f ORDER BY symbol""".stripMargin,

    // mirrors DailyAnalytics.autocorrelation(1, 30): HUGEINT products
    // (mirrors Spark DECIMAL(38,0)), same correlation tree as
    // q_pair_correlation but against the series' own lag
    "q_autocorrelation" ->
      s"""${dailyChain("returns")},
         |p AS (SELECT symbol, y, LAG(y) OVER w AS yl FROM (
         |    SELECT symbol, trade_date, ${sc4("daily_return_pct")} AS y
         |    FROM returns WHERE daily_return_pct IS NOT NULL)
         |  WINDOW w AS (PARTITION BY symbol ORDER BY trade_date)),
         |g AS (SELECT symbol, CAST(COUNT(*) AS BIGINT) AS n_pairs,
         |    CAST(SUM(y) AS BIGINT) AS sx, CAST(SUM(yl) AS BIGINT) AS sy,
         |    SUM(CAST(y AS HUGEINT) * yl) AS sxy,
         |    SUM(CAST(y AS HUGEINT) * y) AS sxx,
         |    SUM(CAST(yl AS HUGEINT) * yl) AS syy
         |  FROM p WHERE yl IS NOT NULL
         |  GROUP BY symbol HAVING COUNT(*) >= 30)
         |SELECT symbol, n_pairs,
         |  ${rd("CAST(CAST(n_pairs AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE) / NULLIF(SQRT(CAST(CAST(n_pairs AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE)) * SQRT(CAST(CAST(n_pairs AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy AS DOUBLE)), 0)", 4)} AS acf_1
         |FROM g ORDER BY symbol""".stripMargin,

    // mirrors qPruneEstimate: same synthetic inventories, same skip
    // rule (fmax < lo OR fmin > hi), one savings row per layout
    "q_prune_estimate" -> {
      def inv(key: String) =
        s"""SELECT $key AS file_id,
           |    MIN(l_orderkey) AS okey_min, MAX(l_orderkey) AS okey_max,
           |    CAST(COUNT(*) AS BIGINT) AS n_rows
           |  FROM lineitem GROUP BY 1""".stripMargin
      def est(src: String, label: String) =
        s"""SELECT CAST(COUNT(*) AS BIGINT) AS n_files,
           |  CAST(SUM(CASE WHEN okey_max < 1000.0 OR okey_min > 5000.0 THEN 1 ELSE 0 END) AS BIGINT) AS files_skipped,
           |  CAST(SUM(n_rows) AS BIGINT) AS rows_total,
           |  CAST(SUM(CASE WHEN okey_max < 1000.0 OR okey_min > 5000.0 THEN n_rows ELSE 0 END) AS BIGINT) AS rows_skipped,
           |  ${rd("CAST(SUM(CASE WHEN okey_max < 1000.0 OR okey_min > 5000.0 THEN n_rows ELSE 0 END) AS DOUBLE) / CAST(NULLIF(CAST(SUM(n_rows) AS BIGINT), 0) AS DOUBLE)", 4)} AS skip_ratio,
           |  '$label' AS layout
           |FROM ($src)""".stripMargin
      s"""SELECT * FROM (
         |${est(inv("l_orderkey // 1000"), "clustered")}
         |UNION ALL
         |${est(inv("l_orderkey % 1000"), "hash_scattered")}
         |) ORDER BY layout""".stripMargin
    },

    // mirrors DailyAnalytics.seasonalityDow: DuckDB dayofweek is
    // 0-based Sunday, Spark's is 1-based -> +1 aligns them
    "q_seasonality_dow" ->
      s"""${dailyChain("returns")}
         |SELECT CAST(dayofweek(trade_date) + 1 AS INTEGER) AS dow,
         |  CAST(COUNT(*) AS BIGINT) AS n_days,
         |  ${rd("CAST(CAST(SUM(" + sc4("daily_return_pct") + ") AS BIGINT) AS DOUBLE) / COUNT(*) / 10000.0", 4)} AS mean_return_pct,
         |  ${rd("CAST(SUM(CASE WHEN " + sc4("daily_return_pct") + " > 0 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)", 4)} AS up_ratio,
         |  CAST(SUM(volume) AS BIGINT) AS volume
         |FROM returns WHERE daily_return_pct IS NOT NULL
         |GROUP BY 1 ORDER BY dow""".stripMargin,

    // mirrors DailyAnalytics.amihudIlliquidity(20): per-row scale-8
    // longs, HUGEINT sum (mirrors DECIMAL(38,0)), one final division
    "q_amihud" ->
      s"""${dailyChain("returns")},
         |g AS (SELECT symbol, CAST(COUNT(*) AS BIGINT) AS n_days,
         |    SUM(CAST(vi AS HUGEINT)) AS s
         |  FROM (SELECT symbol,
         |      ${sc("ABS(daily_return_pct) / NULLIF(close_price * volume, 0) * 1000000.0", 8)} AS vi
         |    FROM returns WHERE daily_return_pct IS NOT NULL)
         |  WHERE vi IS NOT NULL
         |  GROUP BY symbol HAVING COUNT(*) >= 20)
         |SELECT symbol, n_days,
         |  ${rd("CAST(s AS DOUBLE) / n_days / 100000000.0", 6)} AS amihud_illiq
         |FROM g ORDER BY symbol""".stripMargin,

    // mirrors DailyAnalytics.pairsSpread(30): the q_pair_correlation
    // chain picks the top pair (corr is bit-portable, so the ORDER BY
    // tie-break matches), then the spread z in HUGEINT-exact sums
    "q_pairs_spread" ->
      s"""${dailyChain("returns")},
         |r AS (
         |  SELECT symbol, trade_date, ${sc4("daily_return_pct")} AS xs
         |  FROM returns WHERE daily_return_pct IS NOT NULL
         |),
         |j AS (
         |  SELECT a.symbol AS s1, b.symbol AS s2, a.xs AS x, b.xs AS y
         |  FROM r a JOIN r b ON a.trade_date = b.trade_date AND a.symbol < b.symbol
         |),
         |g AS (
         |  SELECT s1, s2, CAST(COUNT(*) AS BIGINT) AS n_days,
         |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         |    CAST(SUM(x * y) AS BIGINT) AS sxy,
         |    CAST(SUM(x * x) AS BIGINT) AS sxx,
         |    CAST(SUM(y * y) AS BIGINT) AS syy
         |  FROM j GROUP BY s1, s2 HAVING COUNT(*) >= 30
         |),
         |t AS (
         |  SELECT s1, s2 FROM g
         |  ORDER BY ${rd("(n_days * sxy - sx * sy) / NULLIF(SQRT(CAST(n_days * sxx - sx * sx AS DOUBLE)) * SQRT(CAST(n_days * syy - sy * sy AS DOUBLE)), 0)", 4)} DESC NULLS LAST, s1, s2
         |  LIMIT 1
         |),
         |sp AS (
         |  SELECT t.s1, t.s2, a.trade_date, a.xs - b.xs AS spread
         |  FROM t JOIN r a ON a.symbol = t.s1
         |         JOIN r b ON b.symbol = t.s2 AND b.trade_date = a.trade_date
         |),
         |st AS (
         |  SELECT s1, s2, CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(SUM(spread) AS BIGINT) AS ss,
         |    SUM(CAST(spread AS HUGEINT) * spread) AS sss
         |  FROM sp GROUP BY s1, s2
         |)
         |SELECT s1, s2, trade_date,
         |  ${rd("CAST(spread AS DOUBLE) / 10000.0", 4)} AS spread_pct,
         |  ${rd("(spread - CAST(ss AS DOUBLE) / n) / NULLIF(SQRT(CAST(CAST(n AS HUGEINT) * sss - CAST(ss AS HUGEINT) * ss AS DOUBLE) / (n * (n - 1))), 0)", 4)} AS spread_z
         |FROM sp JOIN st USING (s1, s2)
         |ORDER BY trade_date""".stripMargin,

    // mirrors qAudioFrames: the payload is unhex(md5 chain), so DuckDB
    // parses samples straight out of the same hex string (audioSvCte)
    "q_audio_frames" ->
      s"""${audioSvCte(withRate = false)}
        |SELECT media_id, CAST(frame_idx AS INTEGER) AS frame_idx,
        |  CAST(16 AS INTEGER) AS n_samples,
        |  CAST(list_sum(list_transform(xs, x -> x * x)) AS BIGINT) AS energy,
        |  CAST(list_max(list_transform(xs, x -> abs(x))) AS INTEGER) AS peak
        |FROM sv ORDER BY media_id, frame_idx""".stripMargin,

    // mirrors qAudioWav: same closed form plus the container fields the
    // WAV parse must recover — sample_rate is arithmetic in doc_id,
    // channels is 1. Matches only if encode(header)∘parse is byte-exact.
    "q_audio_wav" ->
      s"""${audioSvCte(withRate = true)}
        |SELECT media_id, sample_rate, CAST(1 AS INTEGER) AS n_channels,
        |  CAST(frame_idx AS INTEGER) AS frame_idx,
        |  CAST(16 AS INTEGER) AS n_samples,
        |  CAST(list_sum(list_transform(xs, x -> x * x)) AS BIGINT) AS energy,
        |  CAST(list_max(list_transform(xs, x -> abs(x))) AS INTEGER) AS peak
        |FROM sv ORDER BY media_id, frame_idx""".stripMargin,

    // mirrors qAudioUlaw: each payload byte is a G.711 μ-law code —
    // the oracle states the ITU expansion (complement, sign/exp/
    // mantissa, bias 0x84) in integer SQL, so the codec must be
    // bit-exact for the hash to match. 128 codes, frames of 32.
    "q_audio_ulaw" ->
      """WITH pay AS (
        |  SELECT doc_id AS media_id,
        |    md5(text) || md5(text || '1') || md5(text || '2') || md5(text || '3') ||
        |    md5(text || '4') || md5(text || '5') || md5(text || '6') || md5(text || '7') AS hx
        |  FROM documents),
        |f AS (SELECT media_id, unnest(range(0, 4)) AS frame_idx, hx FROM pay),
        |sv AS (
        |  SELECT media_id, frame_idx,
        |    list_transform(
        |      list_transform(range(0, 32), i ->
        |        255 - ('0x' || substr(hx, CAST((frame_idx * 32 + i) * 2 + 1 AS INTEGER), 2))::BIGINT),
        |      u -> (CASE WHEN u >= 128 THEN -1 ELSE 1 END)
        |           * ((((u % 16) * 8 + 132) << CAST((u // 16) % 8 AS INTEGER)) - 132)) AS xs
        |  FROM f)
        |SELECT media_id, CAST(8000 AS INTEGER) AS sample_rate,
        |  CAST(1 AS INTEGER) AS n_channels,
        |  CAST(frame_idx AS INTEGER) AS frame_idx,
        |  CAST(32 AS INTEGER) AS n_samples,
        |  CAST(list_sum(list_transform(xs, x -> x * x)) AS BIGINT) AS energy,
        |  CAST(list_max(list_transform(xs, x -> abs(x))) AS INTEGER) AS peak
        |FROM sv ORDER BY media_id, frame_idx""".stripMargin,

    // mirrors qAudioAdpcm: the IMA ADPCM state machine (89-step table,
    // index advances, bit-weighted delta, int16/[0,88] clamps) replayed
    // as a list_reduce fold over the payload hex — acc = [predictor,
    // step_index, decoded samples...]; the header's predictor is sample
    // 0, then 248 nibbles (low first) extend the list. Stateful codec
    // == order-sensitive oracle: one wrong table entry desyncs all
    // later samples.
    // mirrors Multimodal.wavelet53Features (step=16) over the 64-sample
    // PCM16 series: LeGall 5/3 lifting as windows, FLOOR-form halves
    // and quarters (engines agree on FLOOR, not on negative integer
    // division), mid-tread quantizer dq = FLOOR((d+8)/16)*16,
    // decoder-order reconstruction (evens from s,dq; odds from dq,xe)
    "q_audio_wavelet" ->
      s"""WITH pay AS (
         |  SELECT doc_id AS media_id,
         |    md5(text) || md5(text || '1') || md5(text || '2') || md5(text || '3') ||
         |    md5(text || '4') || md5(text || '5') || md5(text || '6') || md5(text || '7') AS hx
         |  FROM documents),
         |sm AS (SELECT media_id, unnest(range(0, 64)) AS i, hx FROM pay),
         |sx AS (
         |  SELECT media_id, i,
         |    CASE WHEN lo + 256 * hi >= 32768 THEN lo + 256 * hi - 65536
         |         ELSE lo + 256 * hi END AS x
         |  FROM (SELECT media_id, i,
         |      ('0x' || substr(hx, CAST(i * 4 + 1 AS INTEGER), 2))::BIGINT AS lo,
         |      ('0x' || substr(hx, CAST(i * 4 + 3 AS INTEGER), 2))::BIGINT AS hi
         |    FROM sm)),
         |p0 AS (
         |  SELECT media_id, i // 2 AS k,
         |    MAX(CASE WHEN i % 2 = 0 THEN x END) AS x0,
         |    MAX(CASE WHEN i % 2 = 1 THEN x END) AS x1
         |  FROM sx GROUP BY media_id, i // 2),
         |l1 AS (SELECT media_id, k, x0, x1, COALESCE(LEAD(x0) OVER w, x0) AS x2
         |  FROM p0 WINDOW w AS (PARTITION BY media_id ORDER BY k)),
         |l2 AS (SELECT *, x1 - CAST(FLOOR(CAST(x0 + x2 AS DOUBLE) / 2.0) AS BIGINT) AS d
         |  FROM l1),
         |l3 AS (SELECT *, COALESCE(LAG(d) OVER w, d) AS dm
         |  FROM l2 WINDOW w AS (PARTITION BY media_id ORDER BY k)),
         |l4 AS (SELECT *,
         |    x0 + CAST(FLOOR(CAST(dm + d + 2 AS DOUBLE) / 4.0) AS BIGINT) AS s,
         |    CAST(FLOOR(CAST(d + 8 AS DOUBLE) / 16.0) AS BIGINT) * 16 AS dq
         |  FROM l3),
         |l5 AS (SELECT *, COALESCE(LAG(dq) OVER w, dq) AS dqm
         |  FROM l4 WINDOW w AS (PARTITION BY media_id ORDER BY k)),
         |l6 AS (SELECT *,
         |    s - CAST(FLOOR(CAST(dqm + dq + 2 AS DOUBLE) / 4.0) AS BIGINT) AS xe
         |  FROM l5),
         |l7 AS (SELECT *, COALESCE(LEAD(xe) OVER w, xe) AS xe2
         |  FROM l6 WINDOW w AS (PARTITION BY media_id ORDER BY k)),
         |l8 AS (SELECT *,
         |    dq + CAST(FLOOR(CAST(xe + xe2 AS DOUBLE) / 2.0) AS BIGINT) AS xo
         |  FROM l7)
         |SELECT media_id, CAST(COUNT(*) * 2 AS BIGINT) AS n_samples,
         |  CAST(SUM(s * s) AS BIGINT) AS energy_s,
         |  CAST(SUM(d * d) AS BIGINT) AS energy_d,
         |  ${rd("CAST(SUM(s * s) AS DOUBLE) / NULLIF(CAST(SUM(s * s) + SUM(d * d) AS DOUBLE), 0)", 6)} AS compaction,
         |  CAST(MAX(ABS(xe - x0)) AS BIGINT) AS max_err_even,
         |  CAST(MAX(ABS(xo - x1)) AS BIGINT) AS max_err_odd,
         |  CAST(SUM((xe - x0) * (xe - x0) + (xo - x1) * (xo - x1)) AS BIGINT) AS sse
         |FROM l8 GROUP BY media_id ORDER BY media_id""".stripMargin,

    "q_audio_adpcm" ->
      s"""WITH pay AS (
         |  SELECT doc_id AS media_id,
         |    md5(text) || md5(text || '1') || md5(text || '2') || md5(text || '3') ||
         |    md5(text || '4') || md5(text || '5') || md5(text || '6') || md5(text || '7') AS hx
         |  FROM documents),
         |byt AS (SELECT media_id,
         |    list_transform(range(0, 128), i ->
         |      ('0x' || substr(hx, CAST(i * 2 + 1 AS INTEGER), 2))::BIGINT) AS bs
         |  FROM pay),
         |tabs AS (SELECT ${imaStepList} AS st, ${imaIndexList} AS it),
         |ini AS (SELECT media_id,
         |    CASE WHEN bs[1] + 256 * bs[2] >= 32768
         |         THEN bs[1] + 256 * bs[2] - 65536 ELSE bs[1] + 256 * bs[2] END AS pred0,
         |    LEAST(bs[3], 88) AS idx0,
         |    flatten(list_transform(bs[5:], b -> [b % 16, b // 16])) AS ns
         |  FROM byt),
         |dec AS (SELECT media_id, pred0,
         |    list_reduce([[pred0, idx0]] || list_transform(ns, n -> [n]),
         |      (acc, x) -> [
         |        ${imaNextPred},
         |        LEAST(88, GREATEST(0, acc[2] + it[x[1] + 1]))
         |      ] || acc[3:] || [${imaNextPred}]) AS dc
         |  FROM ini, tabs),
         |smp AS (SELECT media_id, [pred0] || dc[3:] AS xs FROM dec),
         |fr AS (SELECT media_id, unnest(range(0, (len(xs) + 31) // 32)) AS frame_idx, xs FROM smp),
         |fx AS (SELECT media_id, frame_idx,
         |    xs[CAST(frame_idx * 32 + 1 AS INTEGER):CAST(LEAST((frame_idx + 1) * 32, len(xs)) AS INTEGER)] AS f
         |  FROM fr)
         |SELECT media_id, CAST(8000 AS INTEGER) AS sample_rate,
         |  CAST(1 AS INTEGER) AS n_channels,
         |  CAST(frame_idx AS INTEGER) AS frame_idx,
         |  CAST(len(f) AS INTEGER) AS n_samples,
         |  CAST(list_sum(list_transform(f, x -> x * x)) AS BIGINT) AS energy,
         |  CAST(list_max(list_transform(f, x -> abs(x))) AS INTEGER) AS peak
         |FROM fx ORDER BY media_id, frame_idx""".stripMargin,

    // mirrors qImageDct: the ENTIRE transform-coded round trip —
    // level shift, 2^11-scaled integer DCT as a 64×64 product sum,
    // libjpeg quality scaling of the T.81 Annex K table,
    // round-half-away quantize at divisor q·2^22, dequantize, inverse
    // product sum, descale 2^22, +128 clamp — restated in integer SQL
    // over the same md5-chain hex; basis/table literals render from
    // the Scala arrays. Dead-reckons every pixel: one wrong constant,
    // clamp or rounding rule breaks the hash on every doc.
    // mirrors qBoxFilter / Multimodal.boxFilterFeatures: the same
    // md5-chain rasters, integral image as two window cumsums, box
    // sums as 4 signed corner lookups, exact residual energy
    "q_box_filter" ->
      s"""WITH pay AS (
         |  SELECT doc_id AS media_id,
         |    md5(text) || md5(text || '1') || md5(text || '2') || md5(text || '3') AS hx
         |  FROM documents),
         |px AS (SELECT media_id, u.y AS y, u.x AS x, u.v AS v FROM (
         |  SELECT media_id, unnest(list_transform(range(0, 64), i ->
         |    {'y': i // 8, 'x': i % 8,
         |     'v': ('0x' || substr(hx, CAST(i * 2 + 1 AS INTEGER), 2))::BIGINT})) AS u
         |  FROM pay)),
         |c1 AS (SELECT *, SUM(v) OVER (PARTITION BY media_id, y ORDER BY x
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cx FROM px),
         |ii AS (SELECT *, SUM(cx) OVER (PARTITION BY media_id, x ORDER BY y
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ii FROM c1),
         |corners AS (SELECT media_id, x, y, v,
         |    CAST((LEAST(x + 1, 7) - GREATEST(x - 2, -1))
         |       * (LEAST(y + 1, 7) - GREATEST(y - 2, -1)) AS BIGINT) AS cnt,
         |    unnest([
         |      {'cx': LEAST(x + 1, 7),     'cy': LEAST(y + 1, 7),     'sg': 1},
         |      {'cx': GREATEST(x - 2, -1), 'cy': LEAST(y + 1, 7),     'sg': -1},
         |      {'cx': LEAST(x + 1, 7),     'cy': GREATEST(y - 2, -1), 'sg': -1},
         |      {'cx': GREATEST(x - 2, -1), 'cy': GREATEST(y - 2, -1), 'sg': 1}]) AS c
         |  FROM ii),
         |boxed AS (SELECT cor.media_id, cor.x, cor.y,
         |    MAX(cor.v) AS v, MAX(cor.cnt) AS cnt,
         |    CAST(SUM(cor.c.sg * COALESCE(i2.ii, 0)) AS BIGINT) AS box_sum
         |  FROM corners cor LEFT JOIN ii i2
         |    ON i2.media_id = cor.media_id AND i2.x = cor.c.cx AND i2.y = cor.c.cy
         |  GROUP BY cor.media_id, cor.x, cor.y)
         |SELECT media_id, CAST(COUNT(*) AS BIGINT) AS n_px,
         |  CAST(SUM(v) AS BIGINT) AS sum_v,
         |  CAST(SUM(box_sum) AS BIGINT) AS sum_box,
         |  CAST(MAX(box_sum) AS BIGINT) AS max_box,
         |  CAST(SUM((v * cnt - box_sum) * (v * cnt - box_sum)) AS BIGINT) AS hp_energy
         |FROM boxed GROUP BY media_id ORDER BY media_id""".stripMargin,

    // mirrors Multimodal.gradientHistogram over the same raster CTE
    // as q_box_filter: lead−lag central differences on the 6×6
    // interior, octant by the identical nested sign/magnitude CASE,
    // L1 votes, argmax bin with lowest-index ties
    "q_image_gradients" ->
      s"""WITH pay AS (
         |  SELECT doc_id AS media_id,
         |    md5(text) || md5(text || '1') || md5(text || '2') || md5(text || '3') AS hx
         |  FROM documents),
         |px AS (SELECT media_id, u.y AS y, u.x AS x, u.v AS v FROM (
         |  SELECT media_id, unnest(list_transform(range(0, 64), i ->
         |    {'y': i // 8, 'x': i % 8,
         |     'v': ('0x' || substr(hx, CAST(i * 2 + 1 AS INTEGER), 2))::BIGINT})) AS u
         |  FROM pay)),
         |g AS (SELECT media_id, x, y,
         |    LEAD(v) OVER (PARTITION BY media_id, y ORDER BY x)
         |      - LAG(v) OVER (PARTITION BY media_id, y ORDER BY x) AS gx,
         |    LEAD(v) OVER (PARTITION BY media_id, x ORDER BY y)
         |      - LAG(v) OVER (PARTITION BY media_id, x ORDER BY y) AS gy
         |  FROM px),
         |i AS (SELECT * FROM g WHERE x > 0 AND x < 7 AND y > 0 AND y < 7),
         |v AS (SELECT media_id, abs(gx) + abs(gy) AS mag,
         |    CASE WHEN abs(gx) >= abs(gy)
         |      THEN CASE WHEN gx >= 0
         |        THEN CASE WHEN gy >= 0 THEN 0 ELSE 7 END
         |        ELSE CASE WHEN gy >= 0 THEN 3 ELSE 4 END END
         |      ELSE CASE WHEN gy >= 0
         |        THEN CASE WHEN gx >= 0 THEN 1 ELSE 2 END
         |        ELSE CASE WHEN gx >= 0 THEN 6 ELSE 5 END END
         |    END AS bin
         |  FROM i),
         |h AS (SELECT media_id, CAST(COUNT(*) AS BIGINT) AS n_px,
         |    CAST(SUM(mag) AS BIGINT) AS edge_energy,
         |    CAST(SUM(CASE WHEN bin = 0 THEN mag ELSE 0 END) AS BIGINT) AS b0,
         |    CAST(SUM(CASE WHEN bin = 1 THEN mag ELSE 0 END) AS BIGINT) AS b1,
         |    CAST(SUM(CASE WHEN bin = 2 THEN mag ELSE 0 END) AS BIGINT) AS b2,
         |    CAST(SUM(CASE WHEN bin = 3 THEN mag ELSE 0 END) AS BIGINT) AS b3,
         |    CAST(SUM(CASE WHEN bin = 4 THEN mag ELSE 0 END) AS BIGINT) AS b4,
         |    CAST(SUM(CASE WHEN bin = 5 THEN mag ELSE 0 END) AS BIGINT) AS b5,
         |    CAST(SUM(CASE WHEN bin = 6 THEN mag ELSE 0 END) AS BIGINT) AS b6,
         |    CAST(SUM(CASE WHEN bin = 7 THEN mag ELSE 0 END) AS BIGINT) AS b7
         |  FROM v GROUP BY media_id),
         |m AS (SELECT *, greatest(b0, b1, b2, b3, b4, b5, b6, b7) AS mx FROM h)
         |SELECT media_id, n_px, edge_energy, b0, b1, b2, b3, b4, b5, b6, b7,
         |  CASE WHEN b0 = mx THEN 0 WHEN b1 = mx THEN 1 WHEN b2 = mx THEN 2
         |       WHEN b3 = mx THEN 3 WHEN b4 = mx THEN 4 WHEN b5 = mx THEN 5
         |       WHEN b6 = mx THEN 6 ELSE 7 END AS dom_bin
         |FROM m ORDER BY media_id""".stripMargin,

    "q_image_dct" ->
      s"""WITH $dctFeatCtes
         |SELECT media_id, quality, dc_q, n_nonzero, max_abs_err, sse, recon_sum
         |FROM feat ORDER BY media_id""".stripMargin,

    // mirrors qImageRd: the per-quality rate-distortion rollup of the
    // SAME transform chain — exact integer sums (rate proxy = total
    // nonzero coefficients, distortion = total SSE) plus rd'd means
    "q_image_rd" ->
      s"""WITH $dctFeatCtes
         |SELECT quality,
         |  CAST(COUNT(*) AS BIGINT) AS n_images,
         |  CAST(SUM(n_nonzero) AS BIGINT) AS total_nonzero,
         |  CAST(SUM(sse) AS BIGINT) AS total_sse,
         |  CAST(MAX(max_abs_err) AS INTEGER) AS worst_err,
         |  ${rd("CAST(SUM(n_nonzero) AS DOUBLE) / COUNT(*)", 4)} AS avg_nonzero,
         |  ${rd("CAST(SUM(sse) AS DOUBLE) / COUNT(*)", 4)} AS avg_sse
         |FROM feat GROUP BY quality ORDER BY quality""".stripMargin,

    // mirrors qBlobCodecs: the closed form of a LOSSLESS round trip —
    // byte length + md5 of the original text. The Spark side computes
    // the digest from the bytes that came OUT of each codec's
    // decompressor, so a hash match proves decode∘encode is the
    // identity through four real codec libraries.
    "q_blob_codecs" ->
      """SELECT doc_id, CAST(strlen(text) AS INTEGER) AS orig_len,
        |  true AS gzip_ok, true AS zstd_ok, true AS lz4_ok, true AS snappy_ok,
        |  md5(text) AS restored_md5
        |FROM documents ORDER BY doc_id""".stripMargin,

    // mirrors qVideoFrames: the AVI payload's movi frames ARE the
    // md5-chain bytes in 32-byte slices (8x4 gray DIB, no pixel
    // codec), so the oracle states per-frame unsigned-byte stats
    // straight from the hex plus the arithmetic fps the stream header
    // must round-trip — matches only if encode(container)∘parse is
    // byte-exact through the NESTED chunk walk.
    "q_video_frames" ->
      """WITH pay AS (
        |  SELECT doc_id AS media_id,
        |    CAST(24 + (doc_id % 2) * 6 AS INTEGER) AS fps,
        |    md5(text) || md5(text || '1') || md5(text || '2') || md5(text || '3') ||
        |    md5(text || '4') || md5(text || '5') || md5(text || '6') || md5(text || '7') AS hx
        |  FROM documents),
        |f AS (SELECT media_id, fps, unnest(range(0, 4)) AS frame_idx, hx FROM pay),
        |pv AS (
        |  SELECT media_id, fps, frame_idx,
        |    list_transform(range(0, 32), i ->
        |      ('0x' || substr(hx, CAST((frame_idx * 32 + i) * 2 + 1 AS INTEGER), 2))::BIGINT) AS ps
        |  FROM f)
        |SELECT media_id, CAST(8 AS INTEGER) AS width, CAST(4 AS INTEGER) AS height,
        |  fps, CAST(frame_idx AS INTEGER) AS frame_idx,
        |  CAST(32 AS INTEGER) AS n_bytes,
        |  CAST(list_sum(ps) AS BIGINT) AS pix_sum,
        |  CAST(list_sum(list_transform(ps, x -> x * x)) AS BIGINT) AS pix_sumsq,
        |  CAST(list_min(ps) AS INTEGER) AS pix_min,
        |  CAST(list_max(ps) AS INTEGER) AS pix_max
        |FROM pv ORDER BY media_id, frame_idx""".stripMargin,

    // mirrors qVideoMotion: per-frame pixel deltas vs the previous
    // frame (frame 0 vs black) from the same hex closed form, then the
    // SAME islands grouping the audio VAD oracle states — the engine
    // reuses one segmentation op across audio and video, and so does
    // the oracle's SQL shape
    "q_video_motion" ->
      """WITH pay AS (
        |  SELECT doc_id AS media_id,
        |    md5(text) || md5(text || '1') || md5(text || '2') || md5(text || '3') ||
        |    md5(text || '4') || md5(text || '5') || md5(text || '6') || md5(text || '7') AS hx
        |  FROM documents),
        |f AS (SELECT media_id, unnest(range(0, 4)) AS frame_idx, hx FROM pay),
        |pv AS (
        |  SELECT media_id, frame_idx,
        |    list_transform(range(0, 32), i ->
        |      ('0x' || substr(hx, CAST((frame_idx * 32 + i) * 2 + 1 AS INTEGER), 2))::BIGINT) AS ps
        |  FROM f),
        |dl AS (SELECT media_id, frame_idx, ps,
        |    LAG(ps) OVER (PARTITION BY media_id ORDER BY frame_idx) AS prev FROM pv),
        |dx AS (SELECT media_id, frame_idx,
        |    list_transform(range(0, 32), i -> abs(ps[CAST(i + 1 AS INTEGER)] -
        |      CASE WHEN prev IS NULL THEN 0 ELSE prev[CAST(i + 1 AS INTEGER)] END)) AS ds
        |  FROM dl),
        |fr AS (SELECT media_id, CAST(frame_idx AS INTEGER) AS frame_idx, 32 AS ns,
        |    CAST(list_sum(ds) AS BIGINT) AS energy, CAST(list_max(ds) AS INTEGER) AS peak
        |  FROM dx),
        |v AS (SELECT *, frame_idx - ROW_NUMBER() OVER (PARTITION BY media_id ORDER BY frame_idx) AS run
        |  FROM fr WHERE energy >= 2720)
        |SELECT media_id,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY media_id ORDER BY MIN(frame_idx)) - 1 AS INTEGER) AS seg_idx,
        |  MIN(frame_idx) AS start_frame, MAX(frame_idx) AS end_frame,
        |  CAST(COUNT(*) AS INTEGER) AS n_frames, CAST(SUM(ns) AS BIGINT) AS n_samples,
        |  CAST(SUM(energy) AS BIGINT) AS energy, MAX(peak) AS peak
        |FROM v GROUP BY media_id, run
        |ORDER BY media_id, seg_idx""".stripMargin,

    // mirrors qAudioVad: same frame-energy closed form, then islands
    // (frame_idx − row_number within voiced frames) grouped to
    // segments — silence-trim semantics stated relationally
    "q_audio_vad" ->
      s"""${audioSvCte(withRate = false)},
        |fr AS (
        |  SELECT media_id, CAST(frame_idx AS INTEGER) AS frame_idx,
        |    16 AS ns,
        |    CAST(list_sum(list_transform(xs, x -> x * x)) AS BIGINT) AS energy,
        |    CAST(list_max(list_transform(xs, x -> abs(x))) AS INTEGER) AS peak
        |  FROM sv),
        |v AS (
        |  SELECT *, frame_idx - ROW_NUMBER() OVER (PARTITION BY media_id ORDER BY frame_idx) AS run
        |  FROM fr WHERE energy >= 5700000000)
        |SELECT media_id,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY media_id ORDER BY MIN(frame_idx)) - 1 AS INTEGER) AS seg_idx,
        |  MIN(frame_idx) AS start_frame,
        |  MAX(frame_idx) AS end_frame,
        |  CAST(COUNT(*) AS INTEGER) AS n_frames,
        |  CAST(SUM(ns) AS BIGINT) AS n_samples,
        |  CAST(SUM(energy) AS BIGINT) AS energy,
        |  MAX(peak) AS peak
        |FROM v GROUP BY media_id, run
        |ORDER BY media_id, seg_idx""".stripMargin,

    // Streaming-computed twin of q_session_windows: SAME oracle —
    // session-state merging through the streaming engine must equal
    // the batch sessionization row for row.
    // mirrors qStreamAb: the streaming per-metric state after
    // AvailableNow equals the one-pass batch aggregate (order-free
    // sums), so the oracle is the grouped aggregate + the identical
    // mSPRT readout tree (tau^2 as the exact double literal)
    // mirrors SparkEntry.qStreamCusum / TickStream.cusumMonitor: the
    // online detector's prefix-sum closed form as SQL windows —
    // τ=5000, slack=200, h=150000 (cents), integer end to end
    "q_stream_cusum" ->
      s"""WITH t AS (
         |  -- order at the engine's MICROSECOND grain (tus = ts div 1000,
         |  -- see qStreamCusum), not raw TIMESTAMP_NS: two same-symbol
         |  -- events in one microsecond but different nanoseconds must
         |  -- sort identically on both sides of the order-dependent
         |  -- CUSUM recurrence
         |  SELECT event_type AS symbol,
         |    epoch_us(CAST(ts AS TIMESTAMP)) AS tus,
         |    ${sc("value", 2)} AS x2 FROM events
         |),
         |p AS (
         |  SELECT symbol, x2,
         |    CAST(SUM(x2 - 5200) OVER w AS BIGINT) AS p1,
         |    CAST(SUM(x2 - 4800) OVER w AS BIGINT) AS p2,
         |    CAST(ROW_NUMBER() OVER w AS BIGINT) AS n
         |  FROM t
         |  WINDOW w AS (PARTITION BY symbol ORDER BY tus, x2
         |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |),
         |s AS (
         |  SELECT symbol, n,
         |    p1 - LEAST(MIN(p1) OVER w2, 0) AS splus,
         |    GREATEST(MAX(p2) OVER w2, 0) - p2 AS sminus
         |  FROM p
         |  WINDOW w2 AS (PARTITION BY symbol ORDER BY n
         |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |),
         |f AS (
         |  SELECT symbol, MAX(n) AS n_events,
         |    arg_max(splus, n) AS s_plus, arg_max(sminus, n) AS s_minus,
         |    MAX(splus) AS max_s_plus, MAX(sminus) AS max_s_minus,
         |    MIN(CASE WHEN splus > 150000 OR sminus > 150000 THEN n END) AS first_alarm_n
         |  FROM s GROUP BY symbol
         |)
         |SELECT symbol, n_events, s_plus, s_minus, max_s_plus, max_s_minus,
         |  first_alarm_n, first_alarm_n IS NOT NULL AS alarmed
         |FROM f ORDER BY symbol""".stripMargin,

    // mirrors SparkEntry.qStreamEwma / TickStream.ewmaMonitor: the
    // online λ=0.94 integer EWMA of scaled tick energy as a DuckDB
    // list_reduce over the µs-ordered series — seed [1, x², x²],
    // step [n+1, (94v+6x²)//100, max so far]
    "q_stream_ewma" ->
      s"""WITH t AS (
         |  SELECT event_type AS symbol,
         |    epoch_us(CAST(ts AS TIMESTAMP)) AS tus,
         |    ${sc("value", 2)} AS x2 FROM events
         |),
         |g AS (SELECT symbol, list(x2 ORDER BY tus, x2) AS xs
         |  FROM t GROUP BY symbol),
         |f AS (SELECT symbol, CAST(len(xs) AS BIGINT) AS n_events,
         |    list_reduce(
         |      list_transform(xs, x -> [1::BIGINT, x * x, x * x]),
         |      (acc, e) -> [acc[1] + 1,
         |        (94 * acc[2] + 6 * e[2]) // 100,
         |        greatest(acc[3], (94 * acc[2] + 6 * e[2]) // 100)]) AS st
         |  FROM g)
         |SELECT symbol, n_events,
         |  CAST(st[2] AS BIGINT) AS ewma2, CAST(st[3] AS BIGINT) AS max_ewma2,
         |  ${rd("sqrt(CAST(st[2] AS DOUBLE)) / 100.0", 4)} AS ewma_val
         |FROM f ORDER BY symbol""".stripMargin,

    "q_stream_ab" ->
      s"""WITH g AS (
         |  SELECT event_type AS metric,
         |    CAST(SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_ctrl,
         |    CAST(SUM(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_treat,
         |    CAST(SUM(CASE WHEN user_id % 2 = 0 THEN ${sc("value", 2)} ELSE 0 END) AS BIGINT) AS s_ctrl,
         |    CAST(SUM(CASE WHEN user_id % 2 = 1 THEN ${sc("value", 2)} ELSE 0 END) AS BIGINT) AS s_treat,
         |    CAST(SUM(${sc("value", 2)} * ${sc("value", 2)}) AS BIGINT) AS s_sq
         |  FROM events GROUP BY 1),
         |r AS (
         |  SELECT metric, n_ctrl, n_treat,
         |    CAST(CAST(n_ctrl + n_treat AS HUGEINT) * s_sq
         |        - CAST(s_ctrl + s_treat AS HUGEINT) * (s_ctrl + s_treat) AS DOUBLE)
         |      / CAST(CAST(n_ctrl + n_treat AS HUGEINT) * (n_ctrl + n_treat) AS DOUBLE)
         |      / 10000.0 AS sigma2,
         |    CAST(n_ctrl * n_treat AS DOUBLE) / CAST(n_ctrl + n_treat AS DOUBLE) AS h,
         |    (CAST(s_treat AS DOUBLE) / CAST(n_treat AS DOUBLE)
         |      - CAST(s_ctrl AS DOUBLE) / CAST(n_ctrl AS DOUBLE)) / 100.0 AS delta
         |  FROM g WHERE n_ctrl > 0 AND n_treat > 0),
         |lamt AS (
         |  SELECT metric, n_ctrl, n_treat, delta,
         |    sqrt(sigma2 / (sigma2 + h * CAST('0.010000000000000002' AS DOUBLE)))
         |      * exp(h * h * CAST('0.010000000000000002' AS DOUBLE) * delta * delta
         |          / (2.0 * sigma2 * (sigma2 + h * CAST('0.010000000000000002' AS DOUBLE)))) AS lambda
         |  FROM r)
         |SELECT metric, n_ctrl, n_treat,
         |  ${rd("delta", 4)} AS delta, ${rd("lambda", 4)} AS lambda,
         |  ${rd("LEAST(1.0, 1.0 / lambda)", 4)} AS p_final
         |FROM lamt ORDER BY metric""".stripMargin,

    // mirrors qStreamTopk: the sharded space-saving summaries are
    // EXACT under capacity, so the merged top-10 per event_type is the
    // plain grouped count with the identical (cnt DESC, user_id) cut
    "q_stream_topk" ->
      s"""WITH c AS (
         |  SELECT event_type, user_id, CAST(COUNT(*) AS BIGINT) AS cnt
         |  FROM events GROUP BY event_type, user_id
         |),
         |r AS (
         |  SELECT event_type, user_id, cnt,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY event_type
         |      ORDER BY cnt DESC, user_id) AS INTEGER) AS rank
         |  FROM c
         |)
         |SELECT event_type, rank, user_id, cnt
         |FROM r WHERE rank <= 10
         |ORDER BY event_type, rank""".stripMargin,

    "q_stream_sessions" ->
      s"""WITH t AS (
         |  SELECT user_id, CAST(ts AS TIMESTAMP) AS et, value FROM events
         |),
         |s AS (
         |  SELECT *, CASE WHEN LAG(et) OVER w IS NULL OR et - LAG(et) OVER w >= INTERVAL 4 HOUR
         |                 THEN 1 ELSE 0 END AS brk
         |  FROM t WINDOW w AS (PARTITION BY user_id ORDER BY et)
         |),
         |g AS (
         |  SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY et ROWS UNBOUNDED PRECEDING) AS sid
         |  FROM s
         |)
         |SELECT user_id, MIN(et) AS session_start, MAX(et) + INTERVAL 4 HOUR AS session_end,
         |  COUNT(*) AS n_events,
         |  ${rd(s"SUM(${sc("value", 2)}) / 100.0", 2)} AS value_sum
         |FROM g GROUP BY user_id, sid
         |ORDER BY user_id, session_start""".stripMargin,

    // Dynamic-gap sessions (mirrors session_window with a Column gap:
    // an event merges while it starts before the running max of
    // previous event-ends; session end = max end of the chain)
    "q_session_dynamic" ->
      s"""WITH t AS (
         |  SELECT user_id, CAST(ts AS TIMESTAMP) AS et,
         |    CAST(ts AS TIMESTAMP) +
         |      CASE WHEN event_type = 'purchase' THEN INTERVAL 8 HOUR ELSE INTERVAL 2 HOUR END AS ei,
         |    value
         |  FROM events
         |),
         |s AS (
         |  SELECT *, MAX(ei) OVER (PARTITION BY user_id ORDER BY et
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max_end
         |  FROM t
         |),
         |b AS (
         |  SELECT *, CASE WHEN prev_max_end IS NULL OR et >= prev_max_end THEN 1 ELSE 0 END AS brk
         |  FROM s
         |),
         |g AS (
         |  SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY et ROWS UNBOUNDED PRECEDING) AS sid
         |  FROM b
         |)
         |SELECT user_id, MIN(et) AS session_start, MAX(ei) AS session_end,
         |  COUNT(*) AS n_events,
         |  ${rd(s"SUM(${sc("value", 2)}) / 100.0", 2)} AS value_sum
         |FROM g GROUP BY user_id, sid
         |ORDER BY user_id, session_start""".stripMargin,

    "q_rollup_revenue" ->
      s"""SELECT r_name AS region, n_name AS nation,
         |  ${rd(s"SUM(${sc4("l_extendedprice * (1 - l_discount)")}) / 10000.0", 2)} AS revenue,
         |  COUNT(*) AS line_count
         |FROM lineitem
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation ON s_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |GROUP BY ROLLUP(r_name, n_name)
         |ORDER BY region ASC NULLS FIRST, nation ASC NULLS FIRST""".stripMargin,

    "q_cube_revenue" ->
      s"""SELECT r_name AS region, n_name AS nation,
         |  ${rd(s"SUM(${sc4("l_extendedprice * (1 - l_discount)")}) / 10000.0", 2)} AS revenue,
         |  COUNT(*) AS line_count
         |FROM lineitem
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation ON s_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |GROUP BY CUBE(r_name, n_name)
         |ORDER BY region ASC NULLS FIRST, nation ASC NULLS FIRST""".stripMargin,

    "q_merge_upsert" ->
      s"""WITH existing AS (
         |  SELECT o_orderkey, o_totalprice, o_orderstatus, CAST(1 AS BIGINT) AS version FROM orders
         |),
         |updates AS (
         |  SELECT o_orderkey, ${rd("o_totalprice * 1.05", 2)} AS o_totalprice, o_orderstatus,
         |         CAST(2 AS BIGINT) AS version
         |  FROM orders WHERE o_orderkey % 3 = 0
         |),
         |unioned AS (SELECT * FROM existing UNION ALL SELECT * FROM updates),
         |rn AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderkey ORDER BY version DESC) AS __rn FROM unioned)
         |SELECT o_orderkey, o_totalprice, o_orderstatus, version
         |FROM rn WHERE __rn = 1 ORDER BY o_orderkey""".stripMargin,

    // MERGE with delete clause (mirrors MergeUpsert.mergeUpsertDelete:
    // newest version per key wins, then winning tombstones drop out)
    "q_merge_delete" ->
      s"""WITH existing AS (
         |  SELECT o_orderkey, o_totalprice, o_orderstatus,
         |         CAST(1 AS BIGINT) AS version, false AS is_deleted
         |  FROM orders
         |),
         |updates AS (
         |  SELECT o_orderkey, ${rd("o_totalprice * 1.05", 2)} AS o_totalprice, o_orderstatus,
         |         CAST(2 AS BIGINT) AS version, o_orderkey % 15 = 0 AS is_deleted
         |  FROM orders WHERE o_orderkey % 3 = 0
         |),
         |unioned AS (SELECT * FROM existing UNION ALL SELECT * FROM updates),
         |rn AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderkey ORDER BY version DESC) AS __rn FROM unioned)
         |SELECT o_orderkey, o_totalprice, o_orderstatus, version
         |FROM rn WHERE __rn = 1 AND NOT is_deleted ORDER BY o_orderkey""".stripMargin,

    "q_revenue_by_nation" ->
      s"""SELECT r_name AS region, n_name AS nation,
         |  ${rd(s"SUM(${sc4("l_extendedprice * (1 - l_discount)")}) / 10000.0", 2)} AS revenue,
         |  COUNT(*) AS line_count,
         |  COUNT(DISTINCT l_suppkey) AS suppliers
         |FROM lineitem
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation ON s_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_scalar_funcs" ->
      s"""WITH ev AS (SELECT *, CAST(ts AS TIMESTAMP) AS t FROM events)
         |SELECT event_id,
         |  UPPER(TRIM(event_type)) AS event_type_norm,
         |  TRY_CAST(regexp_extract(props, '"k": (\\d+)', 1) AS INTEGER) AS k_value,
         |  CASE WHEN CAST(user_id % 7 AS DOUBLE) = 0 OR CAST(user_id % 7 AS DOUBLE) IS NULL
         |       THEN -1.0 ELSE value / CAST(user_id % 7 AS DOUBLE) END AS value_per_mod,
         |  t + INTERVAL 7 DAY AS week_later,
         |  CAST(FLOOR((FLOOR(epoch(t)) - FLOOR(epoch(TIMESTAMP '2024-01-01 00:00:00'))) / 60) AS BIGINT) AS minutes_since,
         |  strftime(t, '%Y-%m-%d %H:%M') AS minute_str,
         |  ${rd("sqrt(abs(value))", 4)} AS value_sqrt,
         |  concat_ws('|', event_type, CAST(user_id AS VARCHAR)) AS tag,
         |  user_id AS rt_user
         |FROM ev ORDER BY event_id""".stripMargin,

    "q_dedup_exact" ->
      """WITH ev AS (
        |  SELECT event_id, user_id, event_type, CAST(ts AS TIMESTAMP) AS event_time, value FROM events
        |),
        |rn AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, event_type ORDER BY event_time, event_id) AS __rn FROM ev)
        |SELECT event_id, user_id, event_type, event_time, value
        |FROM rn WHERE __rn = 1 ORDER BY user_id, event_type""".stripMargin,

    // mirrors TextAnalysis.langConfusion: the same stopword-vote
    // prediction CTE, counted against the label with row fractions
    "q_lang_confusion" -> {
      import TextSignalSql._
      s"""WITH tok AS (
         |  SELECT doc_id, lang, string_split(text, ' ') AS ts FROM documents
         |),
         |st AS (
         |  SELECT doc_id, lang,
         |    $hitCols
         |  FROM tok
         |),
         |p AS (
         |  SELECT lang,
         |    CASE $pred
         |         ELSE 'und' END AS lang_pred
         |  FROM st
         |),
         |g AS (
         |  SELECT lang, lang_pred, CAST(COUNT(*) AS BIGINT) AS n
         |  FROM p GROUP BY lang, lang_pred
         |)
         |SELECT lang, lang_pred, n,
         |  ${rd("CAST(n AS DOUBLE) / (SUM(n) OVER (PARTITION BY lang))", 4)} AS frac_of_lang
         |FROM g ORDER BY lang, lang_pred""".stripMargin
    },

    // mirrors Similarity.embeddingDrift: per-dimension sum vectors of
    // the id-parity halves, HUGEINT moments, one sqrt/divide
    "q_embedding_drift" ->
      s"""WITH $embSql,
         |ex AS (
         |  SELECT vec_id % 2 = 0 AS in_a,
         |    unnest(range(1, 65)) AS k, unnest(vq) AS v
         |  FROM en
         |),
         |s AS (
         |  SELECT k,
         |    CAST(SUM(CASE WHEN in_a THEN v ELSE 0 END) AS BIGINT) AS sa,
         |    CAST(SUM(CASE WHEN NOT in_a THEN v ELSE 0 END) AS BIGINT) AS sb
         |  FROM ex GROUP BY k
         |),
         |m AS (
         |  SELECT SUM(CAST(sa AS HUGEINT) * CAST(sb AS HUGEINT)) AS dot,
         |    SUM(CAST(sa AS HUGEINT) * CAST(sa AS HUGEINT)) AS naa,
         |    SUM(CAST(sb AS HUGEINT) * CAST(sb AS HUGEINT)) AS nbb
         |  FROM s
         |),
         |c AS (
         |  SELECT CAST(SUM(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         |    CAST(SUM(CASE WHEN vec_id % 2 != 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
         |  FROM en
         |)
         |SELECT c.n_a, c.n_b,
         |  ${rd("CAST(m.dot AS DOUBLE) / NULLIF(sqrt(CAST(m.naa AS DOUBLE)) * sqrt(CAST(m.nbb AS DOUBLE)), 0)", 6)} AS centroid_cosine
         |FROM m, c""".stripMargin,

    "q_text_analysis" -> {
      import TextSignalSql._
      s"""WITH tok AS (
         |  SELECT doc_id, lang, text, string_split(text, ' ') AS ts FROM documents
         |),
         |st AS (
         |  SELECT doc_id, lang, text, ts,
         |    $hitCols
         |  FROM tok
         |)
         |SELECT doc_id, lang,
         |  CAST(len(ts) AS INTEGER) AS n_tokens,
         |  CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS INTEGER) AS n_subword_tokens,
         |  CAST(len(list_distinct(ts)) AS INTEGER) AS n_distinct_tokens,
         |  ${rd("len(list_distinct(ts)) / CAST(len(ts) AS DOUBLE)", 4)} AS type_token_ratio,
         |  ${rd("(len(text) - (len(ts) - 1)) / CAST(len(ts) AS DOUBLE)", 4)} AS avg_token_len,
         |  CASE $pred
         |       ELSE 'und' END AS lang_pred,
         |  h_en + h_de + h_es + h_fr + h_zh AS stopword_hits,
         |  ${rd(qualityExpr, 4)} AS quality_score,
         |  list_min(list_transform(
         |    list_distinct(list_transform(range(1, len(ts) - 1), i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])),
         |    s -> ${h60("s")})) AS fingerprint
         |FROM st ORDER BY doc_id""".stripMargin
    },

    // The keep/drop decision (mirrors TextAnalysis.corpusFilter:
    // first failing gate names the reason — too_short, lang_mismatch,
    // low_quality, in that priority order)
    "q_corpus_filter" -> {
      import TextSignalSql._
      s"""WITH tok AS (
         |  SELECT doc_id, lang, text, string_split(text, ' ') AS ts FROM documents
         |),
         |st AS (
         |  SELECT doc_id, lang, ts,
         |    $hitCols
         |  FROM tok
         |),
         |sig AS (
         |  SELECT doc_id, lang,
         |    CAST(len(ts) AS INTEGER) AS n_tokens,
         |    CASE $pred
         |         ELSE 'und' END AS lang_pred,
         |    ${rd(qualityExpr, 4)} AS quality_score
         |  FROM st
         |),
         |dec AS (
         |  SELECT doc_id, lang, lang_pred, n_tokens, quality_score,
         |    CASE WHEN n_tokens < 10 THEN 'too_short'
         |         WHEN lang_pred != lang THEN 'lang_mismatch'
         |         WHEN quality_score < 0.5 THEN 'low_quality'
         |         ELSE 'kept' END AS drop_reason
         |  FROM sig
         |)
         |SELECT doc_id, lang, lang_pred, n_tokens, quality_score, drop_reason,
         |  drop_reason = 'kept' AS keep
         |FROM dec ORDER BY doc_id""".stripMargin
    },

    "q_dedup_minhash_lsh" ->
      s"""WITH $minhashPairsCtes
         |SELECT id1, id2, jaccard FROM pairs ORDER BY id1, id2""".stripMargin,

    // mirrors Dedup.winnowingFingerprints(k=4, w=4): ORDERED k-grams
    // (duplicates kept), window minimum fingerprints, distinct per
    // doc, doc-frequency sharing join
    "q_winnowing" ->
      s"""WITH w0 AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         |g AS (
         |  SELECT doc_id, CAST(len(ws) - 3 AS BIGINT) AS n_grams,
         |    unnest(range(1, len(ws) - 2)) AS pos,
         |    unnest(list_transform(range(1, len(ws) - 2),
         |      i -> ${h60("array_to_string(ws[CAST(i AS INTEGER):CAST(i + 3 AS INTEGER)], ' ')")})) AS gh
         |  FROM w0 WHERE len(ws) >= 4
         |),
         |m AS (
         |  SELECT doc_id, n_grams, pos,
         |    MIN(gh) OVER (PARTITION BY doc_id ORDER BY pos
         |      ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS fp
         |  FROM g
         |),
         |fps AS (
         |  SELECT DISTINCT doc_id, n_grams, fp FROM m WHERE pos >= 4
         |),
         |dfq AS (SELECT fp, CAST(COUNT(*) AS BIGINT) AS dw FROM fps GROUP BY fp)
         |SELECT f.doc_id,
         |  CAST(MAX(f.n_grams) AS BIGINT) AS n_grams,
         |  CAST(MAX(f.n_grams) - 3 AS BIGINT) AS n_windows,
         |  CAST(COUNT(*) AS BIGINT) AS n_fingerprints,
         |  CAST(SUM(CASE WHEN d.dw >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
         |  ${rd("SUM(CASE WHEN d.dw >= 2 THEN 1 ELSE 0 END) / CAST(COUNT(*) AS DOUBLE)", 4)} AS shared_frac
         |FROM fps f JOIN dfq d ON f.fp = d.fp
         |GROUP BY f.doc_id ORDER BY f.doc_id""".stripMargin,

    // mirrors Dedup.lshRecallByBand: exact ngram-Jaccard ground truth
    // LEFT JOINed against the UNFILTERED LSH candidate set, banded on
    // the integer 4-dp jaccard (floor/1000 — decimal-exact edges);
    // expected_recall interpolates the SAME double literals
    // Dedup.lshExpectedRecall(8, 4) embeds on the Spark side
    "q_dedup_recall" -> {
      val expected = dlist(graft.operators.Dedup.lshExpectedRecall(8, 4))
      s"""WITH $minhashBandedCtes,
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
         |  FROM banded a JOIN banded b
         |    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
         |),
         |sizes AS (SELECT doc_id, len(shingles) AS n FROM sh),
         |ex0 AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
         |ex AS (SELECT doc_id, ${h60("shingle")} AS shh FROM ex0),
         |inter AS (
         |  SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS inter
         |  FROM ex a JOIN ex b ON a.shh = b.shh AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2
         |),
         |jp AS (
         |  SELECT id1, id2,
         |    ${rd("inter / CAST(s1.n + s2.n - inter AS DOUBLE)", 4)} AS jaccard
         |  FROM inter
         |  JOIN sizes s1 ON id1 = s1.doc_id
         |  JOIN sizes s2 ON id2 = s2.doc_id
         |),
         |lab AS (
         |  SELECT CAST(LEAST(FLOOR(${sc("p.jaccard", 4)} / 1000.0), 9.0) AS INTEGER) AS band10,
         |    CASE WHEN c.id1 IS NOT NULL THEN 1 ELSE 0 END AS caught
         |  FROM (SELECT * FROM jp WHERE jaccard >= 0.5) p
         |  LEFT JOIN cand c ON p.id1 = c.id1 AND p.id2 = c.id2
         |)
         |SELECT band10 / 10.0 AS j_lo,
         |  CAST(COUNT(*) AS BIGINT) AS n_exact,
         |  CAST(SUM(caught) AS BIGINT) AS n_caught,
         |  ${rd("SUM(caught) / CAST(COUNT(*) AS DOUBLE)", 4)} AS recall,
         |  $expected[band10 + 1] AS expected_recall
         |FROM lab GROUP BY band10 ORDER BY j_lo""".stripMargin
    },

    // streaming ≡ batch for the stream-stream interval join (mirrors
    // qStreamJoin: plain batch interval join over the same halves)
    "q_stream_join" ->
      """WITH v AS (
        |  SELECT user_id, event_id AS view_id, CAST(ts AS TIMESTAMP) AS vt
        |  FROM events WHERE event_type = 'view'
        |),
        |c AS (
        |  SELECT user_id, event_id AS click_id, CAST(ts AS TIMESTAMP) AS ct
        |  FROM events WHERE event_type = 'click'
        |)
        |SELECT v.user_id, v.view_id, c.click_id,
        |  v.vt AS view_time, c.ct AS click_time
        |FROM v JOIN c ON v.user_id = c.user_id
        |  AND c.ct BETWEEN v.vt - INTERVAL 6 HOUR AND v.vt
        |ORDER BY v.user_id, v.view_id, c.click_id""".stripMargin,

    // mirrors qStreamJoinOuter: the plain batch LEFT JOIN — the
    // streaming side only equals this if the sentinel flush really
    // advanced both watermarks past every unmatched view's window
    // (otherwise the last chunk's null-extended rows are missing)
    "q_stream_join_outer" ->
      """WITH v AS (
        |  SELECT user_id, event_id AS view_id, CAST(ts AS TIMESTAMP) AS vt
        |  FROM events WHERE event_type = 'view'
        |),
        |c AS (
        |  SELECT user_id, event_id AS click_id, CAST(ts AS TIMESTAMP) AS ct
        |  FROM events WHERE event_type = 'click'
        |)
        |SELECT v.user_id, v.view_id, c.click_id,
        |  v.vt AS view_time, c.ct AS click_time
        |FROM v LEFT JOIN c ON v.user_id = c.user_id
        |  AND c.ct BETWEEN v.vt - INTERVAL 6 HOUR AND v.vt
        |ORDER BY v.user_id, v.view_id, c.click_id""".stripMargin,

    // streaming ≡ batch: one AvailableNow pass over the corpus file is
    // one fresh batch against an empty store, so the flags table must
    // equal the full batch pair set
    "q_stream_dedup" ->
      s"""WITH $minhashPairsCtes
         |SELECT id1, id2, jaccard FROM pairs ORDER BY id1, id2""".stripMargin,

    "q_dedup_incremental" ->
      s"""WITH $minhashPairsCtes
         |SELECT id1, id2, jaccard FROM pairs
         |WHERE id1 % 5 = 0 OR id2 % 5 = 0
         |ORDER BY id1, id2""".stripMargin,

    // mirrors Dedup.urlCanonicalize + urlGrainRollup over the
    // deterministic messy-URL synthesis in SparkEntry.qUrlDedup:
    // same regexp trees, same utm filter, same host/port rules
    "q_url_dedup" ->
      s"""WITH ud_url AS (SELECT doc_id,
         |    (CASE WHEN doc_id % 9 = 4 THEN ''
         |          WHEN doc_id % 9 = 8 THEN '//'
         |          ELSE (CASE WHEN doc_id % 5 = 0 THEN 'HTTP'
         |                     WHEN doc_id % 5 = 1 THEN 'http'
         |                     WHEN doc_id % 5 = 2 THEN 'HTTPS' ELSE 'https' END)
         |               || '://' END)
         |    || (CASE WHEN doc_id % 3 = 0 THEN upper(source) ELSE source END)
         |    || '.Example.COM'
         |    || (CASE WHEN doc_id % 4 = 0 THEN ':443'
         |             WHEN doc_id % 4 = 1 THEN ':80' ELSE '' END)
         |    || '/d/' || CAST(doc_id % 50 AS VARCHAR)
         |    || (CASE WHEN doc_id % 2 = 0 THEN '?utm_source=feed&utm_campaign=x&ref=a'
         |             WHEN doc_id % 7 = 0 THEN '?ref=home&utm_medium=em' ELSE '' END)
         |    || (CASE WHEN doc_id % 6 = 0 THEN '#sec2' ELSE '' END) AS url
         |  FROM documents),
         |ud_nf AS (SELECT doc_id, url, regexp_replace(url, '#.*', '') AS u_nofrag
         |  FROM ud_url),
         |ud_p AS (SELECT doc_id, url,
         |    lower(regexp_extract(u_nofrag, '^([A-Za-z][A-Za-z0-9+.\\-]*)://', 1)) AS u_scheme,
         |    lower(regexp_extract(u_nofrag, '^[A-Za-z][A-Za-z0-9+.\\-]*://([^/?#]*)', 1)) AS u_host0,
         |    regexp_extract(u_nofrag, '^[A-Za-z][A-Za-z0-9+.\\-]*://[^/?#]*([^?#]*)', 1) AS u_path,
         |    COALESCE(array_to_string(list_filter(
         |      string_split(COALESCE(regexp_extract(u_nofrag, '\\?([^#]*)', 1), ''), '&'),
         |      p -> p <> '' AND NOT regexp_matches(p, '^utm_')), '&'), '') AS u_q
         |  FROM ud_nf),
         |ud_h AS (SELECT doc_id, url, u_scheme, u_path, u_q,
         |    CASE WHEN u_scheme IS NULL OR u_scheme = '' THEN NULL
         |         WHEN u_scheme = 'http' THEN regexp_replace(u_host0, ':80$$', '')
         |         WHEN u_scheme = 'https' THEN regexp_replace(u_host0, ':443$$', '')
         |         ELSE u_host0 END AS host
         |  FROM ud_p),
         |ud_c AS (SELECT doc_id, host,
         |    CASE WHEN u_scheme IS NULL OR u_scheme = '' THEN url
         |         ELSE u_scheme || '://' || host || u_path
         |           || (CASE WHEN u_q = '' THEN '' ELSE '?' || u_q END) END AS canonical_url,
         |    regexp_extract(regexp_replace(host, ':[0-9]+$$', ''),
         |      '[^.]+\\.[^.]+$$', 0) AS registered_domain
         |  FROM ud_h)
         |SELECT host, registered_domain,
         |  CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(COUNT(DISTINCT canonical_url) AS BIGINT) AS n_urls,
         |  MIN(doc_id) AS first_doc_id,
         |  ${rd("CAST(COUNT(*) - COUNT(DISTINCT canonical_url) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)", 6)} AS dup_ratio
         |FROM ud_c GROUP BY host, registered_domain
         |ORDER BY host""".stripMargin,

    "q_dedup_groups" ->
      s"""WITH RECURSIVE $minhashPairsCtes,
         |edges AS (
         |  SELECT id1 AS a, id2 AS b FROM pairs
         |  UNION ALL
         |  SELECT id2 AS a, id1 AS b FROM pairs
         |),
         |verts AS (SELECT DISTINCT a AS id FROM edges),
         |cc AS (
         |  SELECT id, id AS label FROM verts
         |  UNION
         |  SELECT e.b AS id, c.label FROM cc c JOIN edges e ON c.id = e.a
         |),
         |labels AS (SELECT id, MIN(label) AS rep_id FROM cc GROUP BY id),
         |sizes AS (SELECT rep_id, CAST(COUNT(*) AS BIGINT) AS group_size FROM labels GROUP BY rep_id)
         |SELECT l.id AS doc_id, l.rep_id, s.group_size
         |FROM labels l JOIN sizes s USING (rep_id)
         |ORDER BY doc_id""".stripMargin,

    // identical fixpoint through the star-contraction path
    "q_dedup_groups_star" ->
      s"""WITH RECURSIVE $minhashPairsCtes,
         |edges AS (
         |  SELECT id1 AS a, id2 AS b FROM pairs
         |  UNION ALL
         |  SELECT id2 AS a, id1 AS b FROM pairs
         |),
         |verts AS (SELECT DISTINCT a AS id FROM edges),
         |cc AS (
         |  SELECT id, id AS label FROM verts
         |  UNION
         |  SELECT e.b AS id, c.label FROM cc c JOIN edges e ON c.id = e.a
         |),
         |labels AS (SELECT id, MIN(label) AS rep_id FROM cc GROUP BY id),
         |sizes AS (SELECT rep_id, CAST(COUNT(*) AS BIGINT) AS group_size FROM labels GROUP BY rep_id)
         |SELECT l.id AS doc_id, l.rep_id, s.group_size
         |FROM labels l JOIN sizes s USING (rep_id)
         |ORDER BY doc_id""".stripMargin,

    // the kept corpus: drop every grouped doc except its component min
    "q_dedup_keep" ->
      s"""WITH RECURSIVE $minhashPairsCtes,
         |edges AS (
         |  SELECT id1 AS a, id2 AS b FROM pairs
         |  UNION ALL
         |  SELECT id2 AS a, id1 AS b FROM pairs
         |),
         |verts AS (SELECT DISTINCT a AS id FROM edges),
         |cc AS (
         |  SELECT id, id AS label FROM verts
         |  UNION
         |  SELECT e.b AS id, c.label FROM cc c JOIN edges e ON c.id = e.a
         |),
         |labels AS (SELECT id, MIN(label) AS rep_id FROM cc GROUP BY id),
         |drops AS (SELECT id AS doc_id FROM labels WHERE id != rep_id)
         |SELECT d.doc_id, d.lang FROM documents d
         |LEFT JOIN drops x ON d.doc_id = x.doc_id
         |WHERE x.doc_id IS NULL
         |ORDER BY d.doc_id""".stripMargin,

    // mirrors qDedupCanonical: LSH pairs → connected components →
    // quality score → per-cluster argmax (quality DESC, doc_id ASC);
    // singletons are their own canonical
    "q_dedup_canonical" -> {
      import TextSignalSql._
      s"""WITH RECURSIVE $minhashPairsCtes,
         |edges AS (
         |  SELECT id1 AS a, id2 AS b FROM pairs
         |  UNION ALL
         |  SELECT id2 AS a, id1 AS b FROM pairs
         |),
         |verts AS (SELECT DISTINCT a AS id FROM edges),
         |cc AS (
         |  SELECT id, id AS label FROM verts
         |  UNION
         |  SELECT e.b AS id, c.label FROM cc c JOIN edges e ON c.id = e.a
         |),
         |labels AS (SELECT id, MIN(label) AS rep_id FROM cc GROUP BY id),
         |tok AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
         |q AS (SELECT doc_id, ${rd(qualityExpr, 4)} AS quality_score FROM tok),
         |memb AS (
         |  SELECT q.doc_id, COALESCE(l.rep_id, q.doc_id) AS cluster_id, q.quality_score
         |  FROM q LEFT JOIN labels l ON q.doc_id = l.id),
         |sizes AS (SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
         |          FROM memb GROUP BY cluster_id),
         |rk AS (SELECT m.*, ROW_NUMBER() OVER (
         |         PARTITION BY cluster_id
         |         ORDER BY quality_score DESC, doc_id ASC) AS rn
         |       FROM memb m)
         |SELECT r.cluster_id, r.doc_id AS canonical_doc_id, s.cluster_size, r.quality_score
         |FROM rk r JOIN sizes s USING (cluster_id)
         |WHERE r.rn = 1
         |ORDER BY r.cluster_id""".stripMargin
    },

    // mirrors Dedup.dedupReport: the q_dedup_keep decision rolled up
    // to provenance grain
    "q_dedup_report" ->
      s"""WITH RECURSIVE $minhashPairsCtes,
         |edges AS (
         |  SELECT id1 AS a, id2 AS b FROM pairs
         |  UNION ALL
         |  SELECT id2 AS a, id1 AS b FROM pairs
         |),
         |verts AS (SELECT DISTINCT a AS id FROM edges),
         |cc AS (
         |  SELECT id, id AS label FROM verts
         |  UNION
         |  SELECT e.b AS id, c.label FROM cc c JOIN edges e ON c.id = e.a
         |),
         |labels AS (SELECT id, MIN(label) AS rep_id FROM cc GROUP BY id),
         |drops AS (SELECT id AS doc_id FROM labels WHERE id != rep_id)
         |SELECT d.source,
         |  CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(COUNT(*) - COUNT(x.doc_id) AS BIGINT) AS n_kept,
         |  CAST(COUNT(x.doc_id) AS BIGINT) AS n_dropped,
         |  ${rd("COUNT(x.doc_id) / CAST(COUNT(*) AS DOUBLE)", 4)} AS drop_rate
         |FROM documents d
         |LEFT JOIN drops x ON d.doc_id = x.doc_id
         |GROUP BY d.source
         |ORDER BY d.source""".stripMargin,

    "q_dedup_ngram_jaccard" ->
      s"""WITH $shinglesSql,
         |sizes AS (SELECT doc_id, len(shingles) AS n FROM sh),
         |ex0 AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
         |ex AS (SELECT doc_id, ${h60("shingle")} AS shh FROM ex0),
         |inter AS (
         |  SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS inter
         |  FROM ex a JOIN ex b ON a.shh = b.shh AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2
         |),
         |j AS (
         |  SELECT id1, id2,
         |    ${rd("inter / CAST(s1.n + s2.n - inter AS DOUBLE)", 4)} AS jaccard
         |  FROM inter
         |  JOIN sizes s1 ON id1 = s1.doc_id
         |  JOIN sizes s2 ON id2 = s2.doc_id
         |)
         |SELECT id1, id2, jaccard FROM j WHERE jaccard >= 0.5 ORDER BY id1, id2""".stripMargin,

    "q_dedup_simhash" ->
      s"""WITH tok AS (
         |  SELECT doc_id, list_distinct(string_split(text, ' ')) AS tset FROM documents
         |),
         |hs AS (
         |  SELECT doc_id, list_transform(tset, t -> ${h60("t")}) AS hashes FROM tok
         |),
         |shx AS (
         |  SELECT doc_id, CAST(list_sum(list_transform(range(0, 60), j ->
         |    CASE WHEN len(list_filter(hashes, h -> (h >> j) & 1 = 1)) * 2 - len(hashes) > 0
         |         THEN (1::BIGINT << j) ELSE 0::BIGINT END)) AS BIGINT) AS simhash
         |  FROM hs
         |)
         |SELECT a.doc_id AS id1, b.doc_id AS id2,
         |  CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
         |FROM shx a JOIN shx b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
         |ORDER BY id1, id2""".stripMargin,

    "q_sim_topk" ->
      s"""WITH $embSql,
         |sc AS (
         |  SELECT b.vec_id AS query_id, a.vec_id AS corpus_id,
         |    ${cosExpr(pairDot, "a.nq", "b.nq")} AS cosine
         |  FROM en a, en b
         |  WHERE b.vec_id % 50 = 0 AND b.vec_id < 500 AND b.vec_id != a.vec_id
         |),
         |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, corpus_id ASC) AS rn FROM sc)
         |SELECT query_id, corpus_id, cosine, CAST(rn AS INTEGER) AS rank
         |FROM r WHERE rn <= 5 ORDER BY query_id, rank""".stripMargin,

    // mirrors qHardNegatives: the q_sim_topk scored pass with the
    // near-dup band cut BEFORE the rank — the filter is on the SAME
    // 6-dp-rounded cosine both engines compute, so the cut is
    // bit-portable
    "q_hard_negatives" ->
      s"""WITH $embSql,
         |sc AS (
         |  SELECT b.vec_id AS query_id, a.vec_id AS corpus_id,
         |    ${cosExpr(pairDot, "a.nq", "b.nq")} AS cosine
         |  FROM en a, en b
         |  WHERE b.vec_id % 50 = 0 AND b.vec_id < 500 AND b.vec_id != a.vec_id
         |),
         |f AS (SELECT * FROM sc WHERE cosine < 0.40),
         |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, corpus_id ASC) AS rn FROM f)
         |SELECT query_id, corpus_id, cosine, CAST(rn AS INTEGER) AS rank
         |FROM r WHERE rn <= 5 ORDER BY query_id, rank""".stripMargin,

    "q_sim_ann_lsh" -> {
      val planes = graft.operators.Similarity.planeComponents(6)
      val bucket = (0 until 6).map { p =>
        val w = planes.slice(p * 64, (p + 1) * 64).mkString("[", ", ", "]")
        s"CASE WHEN list_sum(list_transform(range(1, 65), k -> vq[k] * ($w)[k])) >= 0 THEN ${1L << p} ELSE 0 END"
      }.mkString("\n         |      + ")
      s"""WITH $embSql,
         |bk AS (
         |  SELECT vec_id, vq, nq,
         |    CAST($bucket AS BIGINT) AS bucket
         |  FROM en
         |),
         |sc AS (
         |  SELECT b.vec_id AS query_id, a.vec_id AS corpus_id,
         |    ${cosExpr(pairDot, "a.nq", "b.nq")} AS cosine
         |  FROM bk a JOIN bk b ON a.bucket = b.bucket
         |  WHERE b.vec_id % 50 = 0 AND b.vec_id < 500 AND b.vec_id != a.vec_id
         |),
         |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, corpus_id ASC) AS rn FROM sc)
         |SELECT query_id, corpus_id, cosine, CAST(rn AS INTEGER) AS rank
         |FROM r WHERE rn <= 5 ORDER BY query_id, rank""".stripMargin
    },

    // Recall@5 of LSH vs brute force (mirrors Similarity.recallAtK
    // over qSimRecall's two pipelines: both rank sets re-derived here,
    // recall = |approx ∩ exact| / |exact|)
    "q_sim_recall" -> {
      val planes = graft.operators.Similarity.planeComponents(6)
      val bucket = (0 until 6).map { p =>
        val w = planes.slice(p * 64, (p + 1) * 64).mkString("[", ", ", "]")
        s"CASE WHEN list_sum(list_transform(range(1, 65), k -> vq[k] * ($w)[k])) >= 0 THEN ${1L << p} ELSE 0 END"
      }.mkString("\n         |      + ")
      s"""WITH $embSql,
         |esc AS (
         |  SELECT b.vec_id AS query_id, a.vec_id AS corpus_id,
         |    ${cosExpr(pairDot, "a.nq", "b.nq")} AS cosine
         |  FROM en a, en b
         |  WHERE b.vec_id % 50 = 0 AND b.vec_id < 500 AND b.vec_id != a.vec_id
         |),
         |ex AS (
         |  SELECT query_id, corpus_id FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, corpus_id ASC) AS rn
         |    FROM esc) WHERE rn <= 5
         |),
         |bk AS (
         |  SELECT vec_id, vq, nq,
         |    CAST($bucket AS BIGINT) AS bucket
         |  FROM en
         |),
         |asc2 AS (
         |  SELECT b.vec_id AS query_id, a.vec_id AS corpus_id,
         |    ${cosExpr(pairDot, "a.nq", "b.nq")} AS cosine
         |  FROM bk a JOIN bk b ON a.bucket = b.bucket
         |  WHERE b.vec_id % 50 = 0 AND b.vec_id < 500 AND b.vec_id != a.vec_id
         |),
         |ap AS (
         |  SELECT query_id, corpus_id FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, corpus_id ASC) AS rn
         |    FROM asc2) WHERE rn <= 5
         |),
         |base AS (SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_exact FROM ex GROUP BY query_id),
         |hits AS (
         |  SELECT a.query_id, CAST(COUNT(*) AS BIGINT) AS n_hit
         |  FROM ap a JOIN ex e ON a.query_id = e.query_id AND a.corpus_id = e.corpus_id
         |  GROUP BY a.query_id
         |)
         |SELECT b.query_id, b.n_exact,
         |  COALESCE(h.n_hit, 0) AS n_hit,
         |  ${rd("COALESCE(h.n_hit, 0) / CAST(b.n_exact AS DOUBLE)", 4)} AS recall
         |FROM base b LEFT JOIN hits h ON b.query_id = h.query_id
         |ORDER BY b.query_id""".stripMargin
    },

    // mirrors Similarity.rankedEval over qRetrievalNdcg's two
    // pipelines: graded rel = 11 - exact_rank, DCG discounts are the
    // SAME double literals Similarity.ndcgDiscounts(10) embeds on the
    // Spark side (Double.toString round-trips, so both engines
    // multiply identical bits); 4-dp rounding absorbs summation-order
    // noise on the two double sums
    "q_retrieval_ndcg" -> {
      val planes = graft.operators.Similarity.planeComponents(6)
      val bucket = (0 until 6).map { p =>
        val w = planes.slice(p * 64, (p + 1) * 64).mkString("[", ", ", "]")
        s"CASE WHEN list_sum(list_transform(range(1, 65), k -> vq[k] * ($w)[k])) >= 0 THEN ${1L << p} ELSE 0 END"
      }.mkString("\n         |      + ")
      val disc = dlist(graft.operators.Similarity.ndcgDiscounts(10))
      s"""WITH $embSql,
         |esc AS (
         |  SELECT b.vec_id AS query_id, a.vec_id AS corpus_id,
         |    ${cosExpr(pairDot, "a.nq", "b.nq")} AS cosine
         |  FROM en a, en b
         |  WHERE b.vec_id % 50 = 0 AND b.vec_id < 500 AND b.vec_id != a.vec_id
         |),
         |ex AS (
         |  SELECT query_id, corpus_id, rn AS erank, 11 - rn AS rel FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, corpus_id ASC) AS rn
         |    FROM esc) WHERE rn <= 10
         |),
         |ideal AS (SELECT query_id, SUM(rel * $disc[erank]) AS idcg FROM ex GROUP BY query_id),
         |bk AS (
         |  SELECT vec_id, vq, nq,
         |    CAST($bucket AS BIGINT) AS bucket
         |  FROM en
         |),
         |asc2 AS (
         |  SELECT b.vec_id AS query_id, a.vec_id AS corpus_id,
         |    ${cosExpr(pairDot, "a.nq", "b.nq")} AS cosine
         |  FROM bk a JOIN bk b ON a.bucket = b.bucket
         |  WHERE b.vec_id % 50 = 0 AND b.vec_id < 500 AND b.vec_id != a.vec_id
         |),
         |ap AS (
         |  SELECT query_id, corpus_id, rn AS arank FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, corpus_id ASC) AS rn
         |    FROM asc2) WHERE rn <= 10
         |),
         |j AS (
         |  SELECT a.query_id, a.arank, COALESCE(e.rel, 0) AS rel
         |  FROM ap a LEFT JOIN ex e ON a.query_id = e.query_id AND a.corpus_id = e.corpus_id
         |),
         |per AS (
         |  SELECT query_id,
         |    CAST(SUM(CASE WHEN rel > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
         |    MIN(CASE WHEN rel > 0 THEN arank END) AS fh,
         |    SUM(rel * $disc[arank]) AS dcg
         |  FROM j GROUP BY query_id
         |)
         |SELECT i.query_id,
         |  COALESCE(p.n_hit, 0) AS n_hit,
         |  CAST(COALESCE(p.fh, 0) AS INTEGER) AS first_hit_rank,
         |  ${rd("CASE WHEN p.fh IS NULL THEN 0.0 ELSE 1.0 / p.fh END", 4)} AS mrr,
         |  ${rd("COALESCE(p.dcg, 0) / i.idcg", 4)} AS ndcg
         |FROM ideal i LEFT JOIN per p ON i.query_id = p.query_id
         |ORDER BY i.query_id""".stripMargin
    },

    // mirrors Similarity.mrlTruncationSweep: slice-then-quantize ==
    // quantize-then-slice (elementwise), so truncated dot/norms run
    // over vq prefixes; same cosine tree + (DESC, id) rank per dim,
    // micro-averaged hits vs the full-dim exact list
    "q_mrl_recall" -> {
      def dotD(d: Int) =
        s"list_sum(list_transform(range(1, ${d + 1}), k -> a.vq[k] * b.vq[k]))"
      def nD(side: String, d: Int) =
        s"list_sum(list_transform(range(1, ${d + 1}), k -> $side.vq[k] * $side.vq[k]))"
      val dims = Seq(8, 16, 32, 64)
      val perDim = dims.map { d =>
        s"""apx$d AS (
           |  SELECT query_id, corpus_id FROM (
           |    SELECT b.vec_id AS query_id, a.vec_id AS corpus_id,
           |      ROW_NUMBER() OVER (PARTITION BY b.vec_id
           |        ORDER BY ${cosExpr(dotD(d), nD("a", d), nD("b", d))} DESC, a.vec_id ASC) AS rn
           |    FROM en a, q b WHERE b.vec_id != a.vec_id) WHERE rn <= 5
           |),
           |agg$d AS (
           |  SELECT CAST($d AS INTEGER) AS trunc_dim,
           |    CAST(COUNT(*) AS BIGINT) AS n_queries,
           |    CAST(SUM(n_hit) AS BIGINT) AS n_hit,
           |    CAST(SUM(n_exact) AS BIGINT) AS n_exact
           |  FROM (
           |    SELECT bq.query_id, bq.n_exact, COALESCE(h.n_hit, 0) AS n_hit
           |    FROM base bq LEFT JOIN (
           |      SELECT a.query_id, CAST(COUNT(*) AS BIGINT) AS n_hit
           |      FROM apx$d a JOIN ex e
           |        ON a.query_id = e.query_id AND a.corpus_id = e.corpus_id
           |      GROUP BY a.query_id) h ON bq.query_id = h.query_id)
           |)""".stripMargin
      }.mkString(",\n")
      s"""WITH $embSql,
         |q AS (SELECT vec_id, vq, nq FROM en WHERE vec_id % 25 = 0 AND vec_id < 500),
         |ex AS (
         |  SELECT query_id, corpus_id FROM (
         |    SELECT b.vec_id AS query_id, a.vec_id AS corpus_id,
         |      ROW_NUMBER() OVER (PARTITION BY b.vec_id
         |        ORDER BY ${cosExpr(pairDot, "a.nq", "b.nq")} DESC, a.vec_id ASC) AS rn
         |    FROM en a, q b WHERE b.vec_id != a.vec_id) WHERE rn <= 5
         |),
         |base AS (SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_exact
         |  FROM ex GROUP BY query_id),
         |$perDim
         |SELECT trunc_dim, n_queries, n_hit, n_exact,
         |  ${rd("CAST(n_hit AS DOUBLE) / n_exact", 4)} AS recall
         |FROM (${dims.map(d => s"SELECT * FROM agg$d").mkString(" UNION ALL ")})
         |ORDER BY trunc_dim""".stripMargin
    },

    "q_token_rarity" ->
      s"""WITH ex0 AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
         |ex AS (SELECT doc_id, ${h60("t")} AS th FROM ex0),
         |docfreq AS (
         |  SELECT th, CAST(COUNT(*) AS BIGINT) AS df
         |  FROM (SELECT DISTINCT doc_id, th FROM ex) GROUP BY th
         |)
         |SELECT e.doc_id,
         |  CAST(COUNT(*) AS BIGINT) AS n_tokens,
         |  CAST(SUM(d.df) AS BIGINT) AS sum_df,
         |  ${rd("SUM(d.df) / CAST(COUNT(*) AS DOUBLE)", 4)} AS mean_df
         |FROM ex e JOIN docfreq d ON e.th = d.th
         |GROUP BY e.doc_id ORDER BY e.doc_id""".stripMargin,

    // MinHash band candidates verified by exact Levenshtein over the
    // 160-char prefix (mirrors Dedup.fuzzyEditPairs; Spark's
    // thresholded levenshtein returns the true distance when <= 40)
    "q_dedup_fuzzy" ->
      s"""WITH $minhashBandedCtes,
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
         |  FROM banded a JOIN banded b
         |    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
         |)
         |SELECT c.id1, c.id2,
         |  CAST(levenshtein(substr(d1.text, 1, 160), substr(d2.text, 1, 160)) AS INTEGER) AS edit_dist
         |FROM cand c
         |JOIN documents d1 ON c.id1 = d1.doc_id
         |JOIN documents d2 ON c.id2 = d2.doc_id
         |WHERE levenshtein(substr(d1.text, 1, 160), substr(d2.text, 1, 160)) <= 40
         |ORDER BY id1, id2""".stripMargin,

    // Asymmetric shingle containment |A ∩ B| / |A| >= 0.8, both
    // directions from one id1<id2 intersection count
    "q_containment" ->
      s"""WITH $shinglesSql,
         |ex0 AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
         |ex AS (SELECT doc_id, ${h60("s")} AS shh FROM ex0),
         |sizes AS (SELECT doc_id, len(shingles) AS sz FROM sh),
         |inter AS (
         |  SELECT a.doc_id AS id1, b.doc_id AS id2, CAST(COUNT(*) AS BIGINT) AS inter
         |  FROM ex a JOIN ex b ON a.shh = b.shh AND a.doc_id < b.doc_id
         |  GROUP BY a.doc_id, b.doc_id
         |),
         |dir AS (
         |  SELECT id1 AS src_id, id2 AS dst_id, inter FROM inter
         |  UNION ALL
         |  SELECT id2 AS src_id, id1 AS dst_id, inter FROM inter
         |)
         |SELECT d.src_id, d.dst_id, ${rd("d.inter / CAST(s.sz AS DOUBLE)", 4)} AS containment
         |FROM dir d JOIN sizes s ON d.src_id = s.doc_id
         |WHERE ${rd("d.inter / CAST(s.sz AS DOUBLE)", 4)} >= 0.8
         |ORDER BY src_id, dst_id""".stripMargin,

    // Integer-portable TF-IDF top-k (mirrors TextAnalysis.tfidfTopK:
    // idf weight = floor(N * 1e6 / df), one IEEE division then floor)
    "q_tfidf_search" ->
      """WITH ex AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
        |q AS (SELECT doc_id, t FROM ex WHERE t IN ('spark', 'vector', 'stream', 'hash')),
        |tf AS (SELECT doc_id, t, CAST(COUNT(*) AS BIGINT) AS tf FROM q GROUP BY doc_id, t),
        |dfreq AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY t),
        |nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents)
        |SELECT tf.doc_id,
        |  CAST(SUM(tf.tf * CAST(FLOOR(nd.n_docs * 1000000.0 / dfreq.df) AS BIGINT)) AS BIGINT) AS score,
        |  CAST(COUNT(*) AS BIGINT) AS n_query_terms
        |FROM tf JOIN dfreq ON tf.t = dfreq.t CROSS JOIN nd
        |GROUP BY tf.doc_id
        |ORDER BY score DESC, doc_id
        |LIMIT 20""".stripMargin,

    // Robust MAD outlier audit (mirrors DailyAnalytics.madOutliers:
    // returns scaled to exact longs, medians interpolate dyadic
    // midpoints, 4.4478 = 3 * 1.4826 as one parsed literal)
    "q_outlier_mad" ->
      s"""${dailyChain("returns")},
         |r AS (
         |  SELECT symbol, ${sc4("daily_return_pct")} AS xs
         |  FROM returns WHERE daily_return_pct IS NOT NULL
         |),
         |med AS (SELECT symbol, median(xs) AS med_s FROM r GROUP BY symbol),
         |dev AS (
         |  SELECT r.symbol, ABS(r.xs - m.med_s) AS dev_s, m.med_s
         |  FROM r JOIN med m ON r.symbol = m.symbol
         |),
         |mad AS (SELECT symbol, median(dev_s) AS mad_s FROM dev GROUP BY symbol)
         |SELECT d.symbol,
         |  CAST(COUNT(*) AS BIGINT) AS n_days,
         |  CAST(SUM(CASE WHEN d.dev_s > 4.4478 * md.mad_s THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
         |  ${rd("MIN(d.med_s) / 10000.0", 4)} AS med_return_pct,
         |  ${rd("MIN(md.mad_s) / 10000.0", 4)} AS mad_pct
         |FROM dev d JOIN mad md ON d.symbol = md.symbol
         |GROUP BY d.symbol ORDER BY d.symbol""".stripMargin,

    // Incremental stats maintenance: the oracle is ONE pass over full
    // history — equality proves the algebraic-merge law end to end
    "q_incremental_stats" ->
      s"""${dailyChain("bars")}
         |SELECT symbol,
         |  CAST(COUNT(*) AS BIGINT) AS n_days,
         |  CAST(SUM(volume) AS BIGINT) AS total_volume,
         |  MIN(low_price) AS min_low,
         |  MAX(high_price) AS max_high,
         |  ${rd(s"CAST(SUM(${sc("close_price", 2)}) AS DOUBLE) / COUNT(*) / 100.0", 4)} AS avg_close
         |FROM bars GROUP BY symbol ORDER BY symbol""".stripMargin,

    // Winsorization (mirrors DailyAnalytics.winsorizeReturns: exact
    // percentiles over scale-4 longs, greatest/least clamp)
    "q_winsorize" ->
      s"""${dailyChain("returns")},
         |r AS (
         |  SELECT symbol, trade_date, ${sc4("daily_return_pct")} AS xs
         |  FROM returns WHERE daily_return_pct IS NOT NULL
         |),
         |b AS (
         |  SELECT symbol, quantile_cont(xs, 0.01) AS lo_s, quantile_cont(xs, 0.99) AS hi_s
         |  FROM r GROUP BY symbol
         |)
         |SELECT r.symbol, r.trade_date,
         |  ${rd("xs / 10000.0", 4)} AS return_pct,
         |  ${rd("GREATEST(LEAST(CAST(xs AS DOUBLE), hi_s), lo_s) / 10000.0", 4)} AS return_winsorized,
         |  (xs < lo_s OR xs > hi_s) AS clamped
         |FROM r JOIN b ON r.symbol = b.symbol
         |ORDER BY r.symbol, r.trade_date""".stripMargin,

    // Missing-day audit (mirrors DailyAnalytics.tradingGaps)
    "q_trading_gaps" ->
      s"""${dailyChain("bars")},
         |g AS (
         |  SELECT symbol, LAG(trade_date) OVER (PARTITION BY symbol ORDER BY trade_date) AS prev_date,
         |    trade_date
         |  FROM bars
         |)
         |SELECT symbol, prev_date, trade_date,
         |  CAST(trade_date - prev_date AS INTEGER) AS gap_days
         |FROM g WHERE trade_date - prev_date > 1
         |ORDER BY symbol, trade_date""".stripMargin,

    // Pairwise Pearson correlation from exact integer sums (mirrors
    // DailyAnalytics.pairCorrelation; the >2^53 integer→double
    // conversions round identically in any IEEE engine)
    "q_pair_correlation" ->
      s"""${dailyChain("returns")},
         |r AS (
         |  SELECT symbol, trade_date, ${sc4("daily_return_pct")} AS xs
         |  FROM returns WHERE daily_return_pct IS NOT NULL
         |),
         |j AS (
         |  SELECT a.symbol AS s1, b.symbol AS s2, a.xs AS x, b.xs AS y
         |  FROM r a JOIN r b ON a.trade_date = b.trade_date AND a.symbol < b.symbol
         |),
         |g AS (
         |  SELECT s1, s2, CAST(COUNT(*) AS BIGINT) AS n_days,
         |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         |    CAST(SUM(x * y) AS BIGINT) AS sxy,
         |    CAST(SUM(x * x) AS BIGINT) AS sxx,
         |    CAST(SUM(y * y) AS BIGINT) AS syy
         |  FROM j GROUP BY s1, s2 HAVING COUNT(*) >= 30
         |)
         |SELECT s1, s2, n_days,
         |  ${rd("CAST(CAST(n_days AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE) / NULLIF(SQRT(CAST(CAST(n_days AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE)) * SQRT(CAST(CAST(n_days AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy AS DOUBLE)), 0)", 4)} AS return_corr
         |FROM g ORDER BY s1, s2""".stripMargin,

    // Grouped top-3 by price (mirrors Ranking.topKPerGroup)
    "q_topk_per_group" ->
      """SELECT o_orderpriority, CAST(rnk AS INTEGER) AS rnk, o_orderkey, o_totalprice
        |FROM (
        |  SELECT o_orderpriority, o_orderkey, o_totalprice,
        |    ROW_NUMBER() OVER (
        |      PARTITION BY o_orderpriority
        |      ORDER BY o_totalprice DESC, o_orderkey) AS rnk
        |  FROM orders
        |)
        |WHERE rnk <= 3 ORDER BY o_orderpriority, rnk""".stripMargin,

    // Inverted index (mirrors TextAnalysis.invertedIndex: distinct
    // (token, doc) grain, df count, rank-capped sorted posting sample;
    // TOKEN grain with an order-sensitive digest of the posting list)
    "q_inverted_index" ->
      """WITH ex0 AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
        |ex AS (SELECT DISTINCT doc_id, token FROM ex0),
        |dfreq AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM ex GROUP BY token),
        |capped AS (
        |  SELECT token, doc_id FROM (
        |    SELECT token, doc_id,
        |      ROW_NUMBER() OVER (PARTITION BY token ORDER BY doc_id) AS rn
        |    FROM ex
        |  ) WHERE rn <= 16
        |),
        |agg AS (
        |  SELECT token, CAST(COUNT(*) AS INTEGER) AS n_postings,
        |    md5(array_to_string(list(doc_id ORDER BY doc_id), ',')) AS postings_md5
        |  FROM capped GROUP BY token
        |)
        |SELECT d.token, d.df, a.n_postings, a.postings_md5
        |FROM dfreq d JOIN agg a ON d.token = a.token
        |ORDER BY d.token""".stripMargin,

    // Content-defined chunking (mirrors Packing.contentDefinedChunks:
    // boundary after token i iff hash60(token) % divisor == 0; only
    // the last span can be empty, so dropping it never re-indexes)
    "q_content_chunks" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |b AS (
         |  SELECT doc_id, w,
         |    list_filter(range(1, len(w) + 1), i -> ${h60("w[i]")} % 8 = 0) AS bnd
         |  FROM t
         |),
         |s AS (SELECT doc_id, w, [0] || bnd AS st, bnd || [len(w)] AS en FROM b),
         |e AS (SELECT doc_id, w, st, en, unnest(range(1, len(st) + 1)) AS j FROM s)
         |SELECT doc_id, CAST(j - 1 AS INTEGER) AS chunk_idx,
         |  CAST(st[j] AS BIGINT) AS tok_start,
         |  CAST(en[j] AS BIGINT) AS tok_end,
         |  array_to_string(list_slice(w, st[j] + 1, en[j]), ' ') AS chunk_text
         |FROM e
         |WHERE st[j] < en[j]
         |ORDER BY doc_id, chunk_idx""".stripMargin,

    // One BPE training round (mirrors TextAnalysis.bpeMergeCandidates:
    // positional adjacent-pair extraction, no self-join)
    "q_bpe_merges" ->
      """WITH t AS (
        |  SELECT regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]') AS l
        |  FROM documents
        |),
        |p AS (
        |  SELECT unnest(list_transform(range(1, len(l)), i -> l[i] || ' ' || l[i+1])) AS pair
        |  FROM t
        |)
        |SELECT pair, CAST(COUNT(*) AS BIGINT) AS n FROM p GROUP BY pair
        |ORDER BY n DESC, pair LIMIT 20""".stripMargin,

    // Rank-based window distribution functions (ties share a value, so
    // the result is order-independent)
    "q_percent_rank" ->
      s"""${dailyChain("returns")}
         |SELECT symbol, trade_date, daily_return_pct,
         |  ${rd("PERCENT_RANK() OVER w", 4)} AS pr,
         |  ${rd("CUME_DIST() OVER w", 4)} AS cd
         |FROM returns WHERE daily_return_pct IS NOT NULL
         |WINDOW w AS (PARTITION BY symbol ORDER BY daily_return_pct)
         |ORDER BY symbol, trade_date""".stripMargin,

    // Mixture resampling (mirrors Sampling.mixtureSample: threshold =
    // floor(min(1, share * N / n_s) * 10000), identical IEEE op order)
    "q_mixture_sample" ->
      s"""WITH ns AS (
         |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM documents
         |  WHERE source IN ('src0', 'src1', 'src2') GROUP BY source
         |),
         |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nt FROM ns),
         |th AS (
         |  SELECT source,
         |    CAST(FLOOR(LEAST(1.0,
         |      CASE source WHEN 'src0' THEN 0.5 WHEN 'src1' THEN 0.25 ELSE 0.25 END
         |        * nt / n) * 10000) AS BIGINT) AS t
         |  FROM ns CROSS JOIN tot
         |)
         |SELECT d.doc_id, d.source
         |FROM documents d JOIN th ON d.source = th.source
         |WHERE ${h60("CAST(doc_id AS VARCHAR)")} % 10000 < th.t
         |ORDER BY d.doc_id""".stripMargin,

    // Table profile (mirrors Profiling.columnProfile over orders)
    // mirrors DailyAnalytics.ksTwoSample: tie-robust per-value jumps
    // n_b*cntA - n_a*cntB, integer cumsum over the value dimension,
    // one division; 1.358 = the alpha=0.05 KS coefficient literal
    "q_ks_test" ->
      s"""${dailyChain("returns")},
         |syms AS (
         |  SELECT symbol, ROW_NUMBER() OVER (ORDER BY symbol) AS rnk FROM (
         |    SELECT DISTINCT symbol FROM returns) ORDER BY symbol LIMIT 2
         |),
         |panel AS (
         |  SELECT s.rnk, r.symbol, ${sc4("r.daily_return_pct")} AS x
         |  FROM returns r JOIN syms s ON r.symbol = s.symbol
         |  WHERE r.daily_return_pct IS NOT NULL
         |),
         |c AS (
         |  SELECT CAST(SUM(CASE WHEN rnk = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         |    CAST(SUM(CASE WHEN rnk = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
         |    MAX(CASE WHEN rnk = 1 THEN symbol END) AS sym_a,
         |    MAX(CASE WHEN rnk = 2 THEN symbol END) AS sym_b
         |  FROM panel
         |),
         |pv AS (
         |  SELECT x,
         |    CAST(SUM(CASE WHEN rnk = 1 THEN 1 ELSE 0 END) AS BIGINT) AS ca,
         |    CAST(SUM(CASE WHEN rnk = 2 THEN 1 ELSE 0 END) AS BIGINT) AS cb
         |  FROM panel GROUP BY x
         |),
         |cum AS (
         |  SELECT c.sym_a, c.sym_b, c.n_a, c.n_b,
         |    SUM(c.n_b * pv.ca - c.n_a * pv.cb) OVER (ORDER BY pv.x
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM pv, c
         |),
         |d AS (
         |  SELECT sym_a, sym_b, n_a, n_b,
         |    CAST(MAX(ABS(cum)) AS BIGINT) AS d_scaled
         |  FROM cum GROUP BY sym_a, sym_b, n_a, n_b
         |)
         |SELECT sym_a, sym_b, n_a, n_b, d_scaled,
         |  ${rd("CAST(d_scaled AS DOUBLE) / (CAST(n_a AS DOUBLE) * n_b)", 6)} AS d_stat,
         |  (CAST(d_scaled AS DOUBLE) / (CAST(n_a AS DOUBLE) * n_b) >
         |    CAST('1.358' AS DOUBLE) * sqrt(CAST(n_a + n_b AS DOUBLE) / (CAST(n_a AS DOUBLE) * n_b))) AS reject_95
         |FROM d""".stripMargin,

    // mirrors DailyAnalytics.spearmanVsMarket: exact floor market
    // index, doubled average ranks (2·rank + ties − 1) within each
    // symbol panel, Pearson over the doubled ranks
    // mirrors DailyAnalytics.rollSpread: serial covariance of close
    // changes in n-scaled integer form, spread = 2*sqrt(-cov) only
    // when cov < 0
    "q_roll_spread" ->
      s"""${dailyChain("bars")},
         |d0 AS (SELECT symbol, trade_date, ${sc("close_price", 2)} AS p FROM bars),
         |d1 AS (
         |  SELECT symbol, trade_date, p - LAG(p, 1) OVER w AS dp
         |  FROM d0 WINDOW w AS (PARTITION BY symbol ORDER BY trade_date)),
         |d2 AS (
         |  SELECT symbol, dp, LAG(dp, 1) OVER w AS dp1
         |  FROM d1 WINDOW w AS (PARTITION BY symbol ORDER BY trade_date)),
         |d AS (SELECT symbol, dp, dp1 FROM d2 WHERE dp IS NOT NULL AND dp1 IS NOT NULL),
         |g AS (
         |  SELECT symbol, CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(SUM(dp) AS BIGINT) AS sx, CAST(SUM(dp1) AS BIGINT) AS sy,
         |    CAST(SUM(dp * dp1) AS BIGINT) AS sxy
         |  FROM d GROUP BY symbol HAVING COUNT(*) >= 30),
         |c AS (
         |  SELECT symbol, n AS n_days,
         |    CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * n AS DOUBLE) AS cov
         |  FROM g)
         |SELECT symbol, n_days,
         |  ${rd("cov / 10000.0", 4)} AS autocov,
         |  CASE WHEN cov < 0.0 THEN ${rd("2.0 * sqrt(-cov) / 100.0", 4)} END AS spread
         |FROM c ORDER BY symbol""".stripMargin,

    // mirrors DailyAnalytics.rangeVolatility: per-day OHLC log terms
    // floor-scaled(8) to exact longs, three annualized estimators
    "q_range_vol" ->
      s"""${dailyChain("bars")},
         |v AS (SELECT symbol,
         |    ln(high_price / open_price) AS u,
         |    ln(low_price / open_price) AS d,
         |    ln(close_price / open_price) AS c
         |  FROM bars
         |  WHERE open_price > 0 AND high_price > 0 AND low_price > 0
         |    AND close_price > 0 AND high_price >= low_price),
         |t AS (SELECT symbol,
         |    ${sc("(u - d) * (u - d)", 8)} AS park,
         |    ${sc("0.5 * (u - d) * (u - d) - (2.0 * ln(2.0) - 1.0) * c * c", 8)} AS gk,
         |    ${sc("u * (u - c) + d * (d - c)", 8)} AS rs
         |  FROM v),
         |g AS (
         |  SELECT symbol, CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(SUM(park) AS BIGINT) AS sp, CAST(SUM(gk) AS BIGINT) AS sg,
         |    CAST(SUM(rs) AS BIGINT) AS sr
         |  FROM t GROUP BY symbol HAVING COUNT(*) >= 30)
         |SELECT symbol, n AS n_days,
         |  ${rd("sqrt(GREATEST(CAST(sp AS DOUBLE) / 4.0 / ln(2.0), 0.0) / CAST(n AS DOUBLE) / 100000000.0 * 252.0)", 4)} AS vol_parkinson,
         |  ${rd("sqrt(GREATEST(CAST(sg AS DOUBLE), 0.0) / CAST(n AS DOUBLE) / 100000000.0 * 252.0)", 4)} AS vol_garman_klass,
         |  ${rd("sqrt(GREATEST(CAST(sr AS DOUBLE), 0.0) / CAST(n AS DOUBLE) / 100000000.0 * 252.0)", 4)} AS vol_rogers_satchell
         |FROM g ORDER BY symbol""".stripMargin,

    // mirrors DailyAnalytics.trackingError: exact-long active returns
    // vs the floor-mean market index, population TE, annualized IR
    "q_tracking_error" ->
      s"""${dailyChain("returns")},
         |r AS (SELECT symbol, trade_date, ${sc4("daily_return_pct")} AS y
         |  FROM returns WHERE daily_return_pct IS NOT NULL),
         |mkt AS (SELECT trade_date,
         |    CAST(FLOOR(SUM(y) / CAST(COUNT(*) AS DOUBLE)) AS BIGINT) AS x
         |  FROM r GROUP BY trade_date),
         |a AS (SELECT symbol, y - x AS a FROM r JOIN mkt USING (trade_date)),
         |g AS (
         |  SELECT symbol, CAST(COUNT(*) AS HUGEINT) AS n,
         |    CAST(SUM(a) AS HUGEINT) AS sa, SUM(CAST(a AS HUGEINT) * a) AS saa
         |  FROM a GROUP BY symbol HAVING COUNT(*) >= 30),
         |c AS (
         |  SELECT symbol, CAST(n AS BIGINT) AS n_days,
         |    sqrt(CAST(n * saa - sa * sa AS DOUBLE) / CAST(n * n AS DOUBLE)) / 10000.0 AS te,
         |    sa, n
         |  FROM g)
         |SELECT symbol, n_days,
         |  ${rd("te", 4)} AS tracking_error,
         |  ${rd("CAST(sa AS DOUBLE) / CAST(n AS DOUBLE) / 10000.0 / NULLIF(te, 0) * sqrt(252.0)", 4)} AS info_ratio
         |FROM c ORDER BY symbol""".stripMargin,

    // mirrors DailyAnalytics.cointegrationAdjacent: adjacent pairs by
    // symbol rank, exact-moment cointegrating OLS, residuals rounded
    // back to integer cents, then the DF stage on exact moments
    "q_cointegration" ->
      s"""${dailyChain("bars")},
         |p AS (SELECT symbol, trade_date, ${sc("close_price", 2)} AS p FROM bars),
         |syms AS (SELECT symbol, ROW_NUMBER() OVER (ORDER BY symbol) AS rk
         |  FROM (SELECT DISTINCT symbol FROM p)),
         |pairs AS (SELECT a.symbol AS s1, b.symbol AS s2
         |  FROM syms a JOIN syms b ON b.rk = a.rk + 1),
         |panel AS (
         |  SELECT pr.s1, pr.s2, x.trade_date, x.p AS pa, y.p AS pb
         |  FROM pairs pr
         |  JOIN p x ON x.symbol = pr.s1
         |  JOIN p y ON y.symbol = pr.s2 AND y.trade_date = x.trade_date),
         |g1 AS (
         |  SELECT s1, s2, CAST(COUNT(*) AS HUGEINT) AS n,
         |    CAST(SUM(pa) AS HUGEINT) AS sa, CAST(SUM(pb) AS HUGEINT) AS sb,
         |    SUM(CAST(pa AS HUGEINT) * pb) AS sab,
         |    SUM(CAST(pa AS HUGEINT) * pa) AS saa
         |  FROM panel GROUP BY s1, s2 HAVING COUNT(*) >= 30),
         |co AS (
         |  SELECT s1, s2,
         |    CAST(n * sab - sa * sb AS DOUBLE) / CAST(n * saa - sa * sa AS DOUBLE) AS beta,
         |    CAST(n AS DOUBLE) AS nd, CAST(sa AS DOUBLE) AS sad, CAST(sb AS DOUBLE) AS sbd
         |  FROM g1),
         |co2 AS (SELECT *, (sbd - beta * sad) / nd AS alpha FROM co),
         |resid AS (
         |  SELECT pn.s1, pn.s2, pn.trade_date,
         |    CAST(FLOOR(CAST(pn.pb AS DOUBLE) - c.alpha - c.beta * CAST(pn.pa AS DOUBLE) + 0.5) AS BIGINT) AS e
         |  FROM panel pn JOIN co2 c ON pn.s1 = c.s1 AND pn.s2 = c.s2),
         |lg AS (SELECT s1, s2, e,
         |    LAG(e) OVER (PARTITION BY s1, s2 ORDER BY trade_date) AS x
         |  FROM resid),
         |d AS (SELECT s1, s2, x, e - x AS y FROM lg WHERE x IS NOT NULL),
         |g2 AS (
         |  SELECT s1, s2, CAST(COUNT(*) AS HUGEINT) AS n,
         |    CAST(SUM(x) AS HUGEINT) AS sx, CAST(SUM(y) AS HUGEINT) AS sy,
         |    SUM(CAST(x AS HUGEINT) * y) AS sxy,
         |    SUM(CAST(x AS HUGEINT) * x) AS sxx,
         |    SUM(CAST(y AS HUGEINT) * y) AS syy
         |  FROM d GROUP BY s1, s2),
         |k AS (
         |  SELECT s1, s2, CAST(n AS BIGINT) AS n_days, CAST(n AS DOUBLE) AS nd,
         |    CAST(sx AS DOUBLE) AS dx, CAST(sy AS DOUBLE) AS dy,
         |    CAST(sxy AS DOUBLE) AS dxy, CAST(sxx AS DOUBLE) AS dxx,
         |    CAST(syy AS DOUBLE) AS dyy
         |  FROM g2),
         |m AS (
         |  SELECT s1, s2, n_days,
         |    (nd * dxy - dx * dy) / (nd * dxx - dx * dx) AS gamma,
         |    dxx - dx * dx / nd AS sxx_c, dyy - dy * dy / nd AS syy_c, nd
         |  FROM k),
         |f AS (
         |  SELECT s1, s2, n_days, gamma,
         |    gamma * sqrt(sxx_c / ((syy_c - gamma * gamma * sxx_c) / (nd - 2.0))) AS t
         |  FROM m)
         |SELECT f.s1, f.s2, f.n_days,
         |  ${rd("c.beta", 4)} AS beta, ${rd("gamma", 4)} AS gamma,
         |  ${rd("t", 4)} AS t_stat, (t < -3.34) AS cointegrated
         |FROM f JOIN co2 c ON f.s1 = c.s1 AND f.s2 = c.s2
         |ORDER BY f.s1, f.s2""".stripMargin,

    // mirrors DailyAnalytics.dickeyFuller: five exact-long moments
    // (Sxx in HUGEINT — price-squared sums outgrow BIGINT), gamma and
    // the DF t-statistic in fixed double trees
    "q_dickey_fuller" ->
      s"""${dailyChain("bars")},
         |d0 AS (
         |  SELECT symbol, ${sc("close_price", 2)} AS p,
         |    LAG(${sc("close_price", 2)}, 1) OVER w AS x
         |  FROM bars WINDOW w AS (PARTITION BY symbol ORDER BY trade_date)),
         |d AS (SELECT symbol, x, p - x AS y FROM d0 WHERE x IS NOT NULL),
         |g AS (
         |  SELECT symbol, CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         |    CAST(SUM(x * y) AS BIGINT) AS sxy,
         |    SUM(CAST(x AS HUGEINT) * x) AS sxx,
         |    CAST(SUM(y * y) AS BIGINT) AS syy
         |  FROM d GROUP BY symbol HAVING COUNT(*) >= 30),
         |k AS (
         |  SELECT symbol, n AS n_days,
         |    CAST(n AS DOUBLE) AS nd, CAST(sx AS DOUBLE) AS dx, CAST(sy AS DOUBLE) AS dy,
         |    CAST(sxy AS DOUBLE) AS dxy, CAST(sxx AS DOUBLE) AS dxx, CAST(syy AS DOUBLE) AS dyy
         |  FROM g),
         |m AS (
         |  SELECT symbol, n_days,
         |    (nd * dxy - dx * dy) / (nd * dxx - dx * dx) AS gamma,
         |    dxx - dx * dx / nd AS sxx_c,
         |    dyy - dy * dy / nd AS syy_c,
         |    nd
         |  FROM k),
         |f AS (
         |  SELECT symbol, n_days, gamma,
         |    gamma * sqrt(sxx_c / ((syy_c - gamma * gamma * sxx_c) / (nd - 2.0))) AS t
         |  FROM m)
         |SELECT symbol, n_days,
         |  ${rd("gamma", 4)} AS gamma,
         |  ${rd("t", 4)} AS t_stat,
         |  (t < -2.86) AS reject_unit_root
         |FROM f ORDER BY symbol""".stripMargin,

    // mirrors Sampling.hashBootstrapCi (B=20): Poisson(1) inverse-CDF
    // weights from hash60(symbol|date|rep) % 1e6 against integer
    // thresholds, exact scaled-long replicate means, quantile_cont CI
    "q_hash_bootstrap" ->
      s"""${dailyChain("returns")},
         |r AS (SELECT symbol, CAST(trade_date AS VARCHAR) AS unit,
         |    ${sc4("daily_return_pct")} AS v4
         |  FROM returns WHERE daily_return_pct IS NOT NULL),
         |wr AS (SELECT symbol, unit, v4, unnest(range(0, 20)) AS rep FROM r),
         |hh AS (SELECT symbol, rep, v4,
         |    ${h60("symbol || '|' || unit || '|' || CAST(rep AS VARCHAR)")} % 1000000 AS h
         |  FROM wr),
         |w AS (SELECT symbol, rep, v4,
         |    CASE WHEN h < 367879 THEN 0 WHEN h < 735758 THEN 1
         |         WHEN h < 919698 THEN 2 WHEN h < 981011 THEN 3
         |         WHEN h < 996340 THEN 4 ELSE 5 END AS w
         |  FROM hh),
         |rm AS (SELECT symbol, rep,
         |    CAST(SUM(w * v4) AS DOUBLE) / CAST(SUM(w) AS DOUBLE) / 10000.0 AS m
         |  FROM w GROUP BY symbol, rep HAVING SUM(w) > 0),
         |pt AS (SELECT symbol, CAST(COUNT(*) AS BIGINT) AS n_units,
         |    CAST(SUM(v4) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) / 10000.0 AS mean0
         |  FROM r GROUP BY symbol),
         |ci AS (SELECT symbol, CAST(COUNT(*) AS BIGINT) AS n_reps,
         |    quantile_cont(m, 0.025) AS lo, quantile_cont(m, 0.975) AS hi
         |  FROM rm GROUP BY symbol)
         |SELECT pt.symbol, n_units, n_reps,
         |  ${rd("mean0", 4)} AS mean, ${rd("lo", 4)} AS ci_lo, ${rd("hi", 4)} AS ci_hi
         |FROM pt JOIN ci USING (symbol) ORDER BY pt.symbol""".stripMargin,

    // mirrors DailyAnalytics.dimsonBeta: exact-long moment sums over
    // (x_t, x_{t-1}, y), 3x3 Cramer solve in fixed double trees
    "q_dimson_beta" ->
      s"""${dailyChain("returns")},
         |r AS (SELECT symbol, trade_date, ${sc4("daily_return_pct")} AS y
         |  FROM returns WHERE daily_return_pct IS NOT NULL),
         |mkt AS (SELECT trade_date,
         |    CAST(FLOOR(SUM(y) / CAST(COUNT(*) AS DOUBLE)) AS BIGINT) AS x
         |  FROM r GROUP BY trade_date),
         |lagged AS (
         |  SELECT * FROM (
         |    SELECT r.symbol, y, x,
         |      LAG(x) OVER (PARTITION BY r.symbol ORDER BY r.trade_date) AS x1
         |    FROM r JOIN mkt USING (trade_date))
         |  WHERE x1 IS NOT NULL),
         |g AS (
         |  SELECT symbol, CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(SUM(x) AS BIGINT) AS s0, CAST(SUM(x1) AS BIGINT) AS s1,
         |    CAST(SUM(y) AS BIGINT) AS sy,
         |    SUM(CAST(x AS HUGEINT) * x) AS s00, SUM(CAST(x AS HUGEINT) * x1) AS s01,
         |    SUM(CAST(x1 AS HUGEINT) * x1) AS s11,
         |    SUM(CAST(x AS HUGEINT) * y) AS s0y, SUM(CAST(x1 AS HUGEINT) * y) AS s1y
         |  FROM lagged GROUP BY symbol HAVING COUNT(*) >= 30),
         |d AS (
         |  SELECT symbol, n AS n_days,
         |    CAST(n AS DOUBLE) AS nd, CAST(s0 AS DOUBLE) AS d0, CAST(s1 AS DOUBLE) AS d1,
         |    CAST(sy AS DOUBLE) AS dy, CAST(s00 AS DOUBLE) AS d00,
         |    CAST(s01 AS DOUBLE) AS d01, CAST(s11 AS DOUBLE) AS d11,
         |    CAST(s0y AS DOUBLE) AS d0y, CAST(s1y AS DOUBLE) AS d1y
         |  FROM g),
         |k AS (
         |  SELECT symbol, n_days,
         |    nd * (d00 * d11 - d01 * d01) - d0 * (d0 * d11 - d01 * d1)
         |      + d1 * (d0 * d01 - d00 * d1) AS det,
         |    dy * (d00 * d11 - d01 * d01) - d0 * (d0y * d11 - d01 * d1y)
         |      + d1 * (d0y * d01 - d00 * d1y) AS det_a,
         |    nd * (d0y * d11 - d01 * d1y) - dy * (d0 * d11 - d01 * d1)
         |      + d1 * (d0 * d1y - d0y * d1) AS det_b0,
         |    nd * (d00 * d1y - d0y * d01) - d0 * (d0 * d1y - d0y * d1)
         |      + dy * (d0 * d01 - d00 * d1) AS det_b1
         |  FROM d)
         |SELECT symbol, n_days,
         |  ${rd("det_a / NULLIF(det, 0)", 4)} AS alpha,
         |  ${rd("det_b0 / NULLIF(det, 0)", 4)} AS beta_now,
         |  ${rd("det_b1 / NULLIF(det, 0)", 4)} AS beta_lag,
         |  ${rd("(det_b0 + det_b1) / NULLIF(det, 0)", 4)} AS beta_sum
         |FROM k ORDER BY symbol""".stripMargin,

    // mirrors Cohorts.msprtMonitor (tau=0.1): day-grain cumulative
    // arm sums as exact longs, pooled population variance from
    // n-scaled integer moments, fixed sqrt/exp likelihood tree,
    // running-max Lambda for the anytime p
    "q_msprt" ->
      s"""WITH ev AS (
         |  SELECT user_id, CAST(ts AS TIMESTAMP) AS event_time, value FROM events),
         |daily AS (
         |  SELECT CAST(event_time AS DATE) AS d,
         |    CAST(SUM(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nb_d,
         |    CAST(SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS na_d,
         |    CAST(SUM(CASE WHEN user_id % 2 = 1 THEN ${sc4("value")} ELSE 0 END) AS BIGINT) AS sb_d,
         |    CAST(SUM(CASE WHEN user_id % 2 = 0 THEN ${sc4("value")} ELSE 0 END) AS BIGINT) AS sa_d
         |  FROM ev GROUP BY 1),
         |sig AS (
         |  SELECT CAST(n * ss - s * s AS DOUBLE) / CAST(n * n AS DOUBLE) / 100000000.0 AS sigma2
         |  FROM (SELECT CAST(COUNT(*) AS HUGEINT) AS n,
         |      CAST(SUM(${sc4("value")}) AS HUGEINT) AS s,
         |      SUM(CAST(${sc4("value")} AS HUGEINT) * ${sc4("value")}) AS ss
         |    FROM ev)),
         |cum AS (
         |  SELECT d, sigma2,
         |    CAST(SUM(na_d) OVER w AS BIGINT) AS na,
         |    CAST(SUM(nb_d) OVER w AS BIGINT) AS nb,
         |    CAST(SUM(sa_d) OVER w AS BIGINT) AS sa,
         |    CAST(SUM(sb_d) OVER w AS BIGINT) AS sb
         |  FROM daily CROSS JOIN sig
         |  WINDOW w AS (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         |lamt AS (
         |  SELECT d, na, nb,
         |    (CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE)
         |      - CAST(sa AS DOUBLE) / CAST(na AS DOUBLE)) / 10000.0 AS delta,
         |    sqrt(sigma2 / (sigma2 + (CAST(na * nb AS DOUBLE) / CAST(na + nb AS DOUBLE)) * CAST('0.010000000000000002' AS DOUBLE)))
         |      * exp((CAST(na * nb AS DOUBLE) / CAST(na + nb AS DOUBLE))
         |          * (CAST(na * nb AS DOUBLE) / CAST(na + nb AS DOUBLE))
         |          * CAST('0.010000000000000002' AS DOUBLE)
         |          * ((CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE)
         |              - CAST(sa AS DOUBLE) / CAST(na AS DOUBLE)) / 10000.0)
         |          * ((CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE)
         |              - CAST(sa AS DOUBLE) / CAST(na AS DOUBLE)) / 10000.0)
         |          / (2.0 * sigma2 * (sigma2 + (CAST(na * nb AS DOUBLE) / CAST(na + nb AS DOUBLE)) * CAST('0.010000000000000002' AS DOUBLE)))) AS lambda
         |  FROM cum WHERE na > 0 AND nb > 0),
         |lm AS (
         |  SELECT d, na, nb, delta, lambda,
         |    MAX(lambda) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lam_max
         |  FROM lamt)
         |SELECT d AS day, na AS n_ctrl, nb AS n_treat,
         |  ${rd("delta", 4)} AS delta,
         |  ${rd("lambda", 4)} AS lambda,
         |  ${rd("LEAST(1.0, 1.0 / lam_max)", 4)} AS p_always_valid
         |FROM lm ORDER BY day""".stripMargin,

    // mirrors DailyAnalytics.kendallVsMarket (window=60, minDays=10):
    // pair signs inside each symbol's 60-row tail, exact
    // concordant/discordant/tie counts, tau-b with both tie
    // corrections in one rd(4) division
    "q_kendall_market" ->
      s"""${dailyChain("returns")},
         |r AS (SELECT symbol, trade_date, ${sc4("daily_return_pct")} AS y
         |  FROM returns WHERE daily_return_pct IS NOT NULL),
         |mkt AS (SELECT trade_date,
         |    CAST(FLOOR(SUM(y) / CAST(COUNT(*) AS DOUBLE)) AS BIGINT) AS x
         |  FROM r GROUP BY trade_date),
         |tail AS (
         |  SELECT symbol, rn, x, y FROM (
         |    SELECT r.symbol, x, y,
         |      ROW_NUMBER() OVER (PARTITION BY r.symbol ORDER BY r.trade_date DESC) AS rn
         |    FROM r JOIN mkt USING (trade_date))
         |  WHERE rn <= 60),
         |pairs AS (
         |  SELECT a.symbol,
         |    CASE WHEN a.x > b.x THEN 1 WHEN a.x < b.x THEN -1 ELSE 0 END AS sx,
         |    CASE WHEN a.y > b.y THEN 1 WHEN a.y < b.y THEN -1 ELSE 0 END AS sy
         |  FROM tail a JOIN tail b ON a.symbol = b.symbol AND a.rn < b.rn),
         |g AS (
         |  SELECT symbol, CAST(COUNT(*) AS BIGINT) AS n0,
         |    CAST(SUM(CASE WHEN sx * sy > 0 THEN 1 ELSE 0 END) AS BIGINT) AS nc,
         |    CAST(SUM(CASE WHEN sx * sy < 0 THEN 1 ELSE 0 END) AS BIGINT) AS nd,
         |    CAST(SUM(CASE WHEN sx = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tx,
         |    CAST(SUM(CASE WHEN sy = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ty
         |  FROM pairs GROUP BY symbol HAVING COUNT(*) >= 45)
         |SELECT symbol, n0 AS n_pairs, nc, nd,
         |  ${rd("""CAST(nc - nd AS DOUBLE) /
         |    NULLIF(sqrt(CAST(n0 - tx AS DOUBLE)) * sqrt(CAST(n0 - ty AS DOUBLE)), 0)""", 4)} AS tau_b
         |FROM g ORDER BY symbol""".stripMargin,

    // mirrors Cohorts.diffInDiff: odd/even user split, midpoint-µs
    // period split ((min+max)//2 over epoch micros), scaled(4) value
    // sums, four exact cell means, one rd(4) estimator tree
    "q_did" ->
      s"""WITH ev AS (
         |  SELECT user_id, CAST(ts AS TIMESTAMP) AS event_time, value FROM events),
         |mid AS (SELECT (MIN(epoch_us(event_time)) + MAX(epoch_us(event_time))) // 2 AS mid
         |  FROM ev),
         |cells AS (
         |  SELECT (user_id % 2 = 1) AS treated,
         |    (epoch_us(event_time) >= mid) AS post,
         |    CAST(SUM(${sc4("value")}) AS BIGINT) AS s,
         |    CAST(COUNT(*) AS BIGINT) AS n
         |  FROM ev CROSS JOIN mid GROUP BY 1, 2),
         |wide AS (
         |  SELECT
         |    MAX(CASE WHEN treated AND post THEN CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 10000.0 END) AS treat_post,
         |    MAX(CASE WHEN treated AND NOT post THEN CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 10000.0 END) AS treat_pre,
         |    MAX(CASE WHEN NOT treated AND post THEN CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 10000.0 END) AS ctrl_post,
         |    MAX(CASE WHEN NOT treated AND NOT post THEN CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 10000.0 END) AS ctrl_pre,
         |    CAST(SUM(n) AS BIGINT) AS n_events
         |  FROM cells)
         |SELECT n_events,
         |  ${rd("treat_pre", 4)} AS treat_pre, ${rd("treat_post", 4)} AS treat_post,
         |  ${rd("ctrl_pre", 4)} AS ctrl_pre, ${rd("ctrl_post", 4)} AS ctrl_post,
         |  ${rd("(treat_post - treat_pre) - (ctrl_post - ctrl_pre)", 4)} AS did
         |FROM wide""".stripMargin,

    "q_spearman_market" ->
      s"""${dailyChain("returns")},
         |r AS (SELECT symbol, trade_date, ${sc4("daily_return_pct")} AS y
         |  FROM returns WHERE daily_return_pct IS NOT NULL),
         |mkt AS (SELECT trade_date,
         |    CAST(FLOOR(SUM(y) / CAST(COUNT(*) AS DOUBLE)) AS BIGINT) AS x
         |  FROM r GROUP BY trade_date),
         |rk AS (
         |  SELECT symbol,
         |    2 * RANK() OVER (PARTITION BY symbol ORDER BY y)
         |      + COUNT(*) OVER (PARTITION BY symbol, y) - 1 AS ry,
         |    2 * RANK() OVER (PARTITION BY symbol ORDER BY x)
         |      + COUNT(*) OVER (PARTITION BY symbol, x) - 1 AS rx
         |  FROM r JOIN mkt USING (trade_date)
         |),
         |g AS (
         |  SELECT symbol, CAST(COUNT(*) AS BIGINT) AS n_days,
         |    CAST(SUM(rx) AS BIGINT) AS sx, CAST(SUM(ry) AS BIGINT) AS sy,
         |    CAST(SUM(rx * ry) AS BIGINT) AS sxy,
         |    CAST(SUM(rx * rx) AS BIGINT) AS sxx,
         |    CAST(SUM(ry * ry) AS BIGINT) AS syy
         |  FROM rk GROUP BY symbol HAVING COUNT(*) >= 30
         |)
         |SELECT symbol, n_days,
         |  ${rd("""(n_days * sxy - sx * sy) /
         |    NULLIF(sqrt(CAST(n_days * sxx - sx * sx AS DOUBLE)) *
         |           sqrt(CAST(n_days * syy - sy * sy AS DOUBLE)), 0)""", 4)} AS rho
         |FROM g ORDER BY symbol""".stripMargin,

    // mirrors DailyAnalytics.theilSenTrend(60, 10): last-60-bar tail
    // re-indexed 1..n ascending by date, median of pairwise slopes
    // (IEEE division of exact cent/index longs), intercept =
    // median(p − slope·x); quantile_cont interpolates like Spark's
    // exact percentile
    "q_theil_sen" ->
      s"""${dailyChain("bars")},
         |r0 AS (
         |  SELECT symbol, ${sc("close_price", 2)} AS p,
         |    ROW_NUMBER() OVER (PARTITION BY symbol ORDER BY trade_date DESC) AS rn
         |  FROM bars
         |),
         |r1 AS (SELECT symbol, p, rn FROM r0 WHERE rn <= 60),
         |recent AS (
         |  SELECT symbol, p,
         |    COUNT(*) OVER (PARTITION BY symbol) - rn + 1 AS x
         |  FROM r1
         |),
         |pr AS (
         |  SELECT a.symbol,
         |    CAST(b.p - a.p AS DOUBLE) / CAST(b.x - a.x AS DOUBLE) AS sl
         |  FROM recent a JOIN recent b ON a.symbol = b.symbol AND a.x < b.x
         |),
         |sm AS (
         |  SELECT symbol, CAST(COUNT(*) AS BIGINT) AS n_pairs,
         |    quantile_cont(sl, 0.5) AS slope_med
         |  FROM pr GROUP BY symbol
         |),
         |nd AS (SELECT symbol, CAST(COUNT(*) AS BIGINT) AS n_days FROM recent GROUP BY symbol),
         |ic AS (
         |  SELECT r.symbol,
         |    quantile_cont(CAST(r.p AS DOUBLE) - s.slope_med * CAST(r.x AS DOUBLE), 0.5) AS icept
         |  FROM recent r JOIN sm s USING (symbol)
         |  GROUP BY r.symbol
         |)
         |SELECT nd.symbol, n_days, n_pairs,
         |  ${rd("slope_med / 100.0", 4)} AS slope,
         |  ${rd("icept / 100.0", 4)} AS intercept
         |FROM nd JOIN sm ON nd.symbol = sm.symbol JOIN ic ON nd.symbol = ic.symbol
         |WHERE n_days >= 10
         |ORDER BY nd.symbol""".stripMargin,

    // mirrors DailyAnalytics.mannWhitneySplit: pooled integer ranks
    // via 2·avgrank = 2·rank + ties − 1, doubled statistic
    // u2 = 2R1 − n1(n1+1) exact, tie-corrected normal z (NULL when
    // every value ties), AUC = U1/(n1·n2)
    // mirrors DailyAnalytics.varianceRatio (q=5): n-scaled integer
    // second moments over close-difference series at lags 1 and 5,
    // one fixed division tree for VR and the homoskedastic z
    "q_variance_ratio" ->
      s"""${dailyChain("bars")},
         |p AS (SELECT symbol, trade_date, ${sc("close_price", 2)} AS p FROM bars),
         |d AS (
         |  SELECT symbol,
         |    p - LAG(p, 1) OVER w AS x,
         |    p - LAG(p, 5) OVER w AS y
         |  FROM p WINDOW w AS (PARTITION BY symbol ORDER BY trade_date)
         |),
         |g AS (
         |  SELECT symbol,
         |    CAST(SUM(CASE WHEN x IS NOT NULL THEN 1 END) AS BIGINT) AS n1,
         |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(x * x) AS BIGINT) AS sxx,
         |    CAST(SUM(CASE WHEN y IS NOT NULL THEN 1 END) AS BIGINT) AS n2,
         |    CAST(SUM(y) AS BIGINT) AS sy, CAST(SUM(y * y) AS BIGINT) AS syy
         |  FROM d GROUP BY symbol
         |),
         |v AS (
         |  SELECT symbol, n1,
         |    CAST(n1 * sxx - sx * sx AS DOUBLE) / CAST(n1 * n1 AS DOUBLE) AS varx,
         |    CAST(n2 * syy - sy * sy AS DOUBLE) / CAST(n2 * n2 AS DOUBLE) AS vary
         |  FROM g WHERE n1 >= 30 AND n2 >= 30
         |),
         |r AS (
         |  SELECT symbol, n1 AS n_days,
         |    ${rd("vary / 5.0 / NULLIF(varx, 0)", 4)} AS vr
         |  FROM v
         |)
         |SELECT symbol, n_days, vr,
         |  ${rd("(vr - 1.0) * sqrt(CAST(n_days AS DOUBLE) / 8.0)", 4)} AS z,
         |  CASE WHEN vr < 1.0 THEN 'mean_reverting'
         |       WHEN vr > 1.0 THEN 'trending'
         |       ELSE 'random_walk' END AS regime
         |FROM r ORDER BY symbol""".stripMargin,

    // mirrors DailyAnalytics.pageHinkley (lambda=50000): fully
    // integer — running mean FLOOR(S/i), cumulative deviation g,
    // running max of g, alarm statistic PH = max(g) − g
    "q_page_hinkley" ->
      s"""${dailyChain("returns")},
         |x AS (
         |  SELECT symbol, trade_date, ${sc4("daily_return_pct")} AS x
         |  FROM returns WHERE daily_return_pct IS NOT NULL
         |),
         |s1 AS (
         |  SELECT symbol, trade_date, x,
         |    CAST(ROW_NUMBER() OVER w AS BIGINT) AS i,
         |    CAST(SUM(x) OVER w AS BIGINT) AS s
         |  FROM x WINDOW w AS (PARTITION BY symbol ORDER BY trade_date
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |),
         |s2 AS (
         |  SELECT symbol, trade_date,
         |    x - CAST(FLOOR(CAST(s AS DOUBLE) / CAST(i AS DOUBLE)) AS BIGINT) AS dev
         |  FROM s1
         |),
         |s3 AS (
         |  SELECT symbol, trade_date,
         |    CAST(SUM(dev) OVER w AS BIGINT) AS g
         |  FROM s2 WINDOW w AS (PARTITION BY symbol ORDER BY trade_date
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |),
         |s4 AS (
         |  SELECT symbol, trade_date,
         |    CAST(MAX(g) OVER w AS BIGINT) - g AS ph
         |  FROM s3 WINDOW w AS (PARTITION BY symbol ORDER BY trade_date
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |)
         |SELECT symbol, CAST(COUNT(*) AS BIGINT) AS n_days,
         |  MAX(ph) AS max_ph,
         |  CAST(SUM(CASE WHEN ph > 50000 THEN 1 ELSE 0 END) AS BIGINT) AS n_alarm_days,
         |  MIN(CASE WHEN ph > 50000 THEN trade_date END) AS first_alarm_date
         |FROM s4 GROUP BY symbol ORDER BY symbol""".stripMargin,

    // mirrors TextAnalysis.readability: exact counts via list
    // higher-order functions, string-cast formula constants
    "q_readability" ->
      s"""WITH c AS (
         |  SELECT doc_id,
         |    CAST(GREATEST(len(string_split(text, ' ')), 1) AS BIGINT) AS n_words,
         |    CAST(GREATEST(len(regexp_extract_all(text, '[.!?]+')), 1) AS BIGINT) AS n_sentences,
         |    CAST(list_sum(list_transform(string_split(text, ' '),
         |      w -> GREATEST(len(regexp_extract_all(w, '[aeiouy]+')), 1))) AS BIGINT) AS n_syllables,
         |    CAST(COALESCE(list_max(list_transform(
         |      regexp_extract_all(text, '[^aeiouy ]+'), r -> len(r))), 0) AS INTEGER) AS max_consonant_run
         |  FROM documents
         |)
         |SELECT doc_id, n_words, n_sentences, n_syllables, max_consonant_run,
         |  ${rd("""CAST('206.835' AS DOUBLE)
         |    - CAST('1.015' AS DOUBLE) * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
         |    - CAST('84.6' AS DOUBLE) * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE))""", 4)} AS flesch,
         |  ${rd("""CAST('0.39' AS DOUBLE) * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
         |    + CAST('11.8' AS DOUBLE) * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE))
         |    - CAST('15.59' AS DOUBLE)""", 4)} AS fk_grade
         |FROM c ORDER BY doc_id""".stripMargin,

    // mirrors TextAnalysis.naiveBayesLang: Laplace log-likelihoods and
    // log-priors floor-scaled(8) at the model grain, per-doc exact
    // long sums, window argmax with (score, label) tie-break
    "q_naive_bayes" ->
      s"""WITH tok AS (
         |  SELECT doc_id, lang AS label, unnest(string_split(text, ' ')) AS w
         |  FROM documents
         |),
         |tr AS (SELECT * FROM tok WHERE doc_id % 2 = 0),
         |te AS (
         |  SELECT doc_id, label, w, CAST(COUNT(*) AS BIGINT) AS k
         |  FROM tok WHERE doc_id % 2 = 1 GROUP BY 1, 2, 3
         |),
         |cl AS (SELECT label, w, CAST(COUNT(*) AS BIGINT) AS c FROM tr GROUP BY 1, 2),
         |tl AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS t FROM tr GROUP BY 1),
         |vocab AS (SELECT DISTINCT w FROM tr),
         |vsz AS (SELECT CAST(COUNT(*) AS BIGINT) AS v FROM vocab),
         |model AS (
         |  SELECT tl.label AS cand, vocab.w,
         |    ${sc("ln(CAST(COALESCE(cl.c, 0) + 1 AS DOUBLE) / CAST(tl.t + vsz.v AS DOUBLE))", 8)} AS w8
         |  FROM vocab CROSS JOIN tl CROSS JOIN vsz
         |  LEFT JOIN cl ON cl.label = tl.label AND cl.w = vocab.w
         |),
         |prior AS (
         |  SELECT lang AS cand,
         |    ${sc("ln(CAST(COUNT(*) AS DOUBLE) / CAST((SELECT COUNT(*) FROM documents WHERE doc_id % 2 = 0) AS DOUBLE))", 8)} AS p8
         |  FROM documents WHERE doc_id % 2 = 0 GROUP BY lang
         |),
         |sc0 AS (
         |  SELECT te.doc_id, te.label, m.cand,
         |    CAST(SUM(te.k * m.w8) AS BIGINT) AS s8
         |  FROM te JOIN model m ON te.w = m.w
         |  GROUP BY 1, 2, 3
         |),
         |tot AS (
         |  SELECT sc0.doc_id, sc0.label, sc0.cand, sc0.s8 + p.p8 AS total8
         |  FROM sc0 JOIN prior p ON p.cand = sc0.cand
         |),
         |rk AS (
         |  SELECT doc_id, label, cand, total8,
         |    ROW_NUMBER() OVER w AS rn,
         |    total8 - LEAD(total8, 1) OVER w AS margin8
         |  FROM tot
         |  WINDOW w AS (PARTITION BY doc_id ORDER BY total8 DESC, cand DESC)
         |)
         |SELECT doc_id, label AS lang, cand AS pred_lang,
         |  label = cand AS correct, margin8
         |FROM rk WHERE rn = 1 ORDER BY doc_id""".stripMargin,

    // mirrors TextAnalysis.chi2Features: presence-grain 2×2 marginals
    // as exact BIGINTs, identical double tree for the statistic
    "q_chi2_features" ->
      s"""WITH pres AS (
         |  SELECT DISTINCT doc_id, CAST(lang = 'en' AS INTEGER) AS y, w
         |  FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w
         |        FROM documents)
         |),
         |tot AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS nd,
         |    CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS npos
         |  FROM documents
         |),
         |pt AS (
         |  SELECT w, CAST(COUNT(*) AS BIGINT) AS df,
         |    CAST(SUM(y) AS BIGINT) AS n11
         |  FROM pres GROUP BY w HAVING COUNT(*) >= 5
         |),
         |mg AS (
         |  SELECT w, df, n11, df - n11 AS n10, npos - n11 AS n01,
         |    nd - npos - (df - n11) AS n00, nd
         |  FROM pt CROSS JOIN tot
         |),
         |cx AS (
         |  SELECT w, df, n11,
         |    CAST(nd AS DOUBLE) * CAST(n11 * n00 - n10 * n01 AS DOUBLE)
         |      * CAST(n11 * n00 - n10 * n01 AS DOUBLE)
         |      / NULLIF(CAST((n11 + n10) * (n01 + n00) AS DOUBLE)
         |               * CAST((n11 + n01) * (n10 + n00) AS DOUBLE), 0) AS chi2
         |  FROM mg
         |)
         |SELECT CAST(ROW_NUMBER() OVER (ORDER BY chi2 DESC, w) AS INTEGER) AS rnk,
         |  w AS token, df, n11, ${rd("chi2", 4)} AS chi2
         |FROM cx QUALIFY rnk <= 50 ORDER BY rnk""".stripMargin,

    // mirrors SparkEntry.qIntervalOverlap; the oracle states the range
    // join DIRECTLY as the inequality join (DuckDB's IEJoin), checking
    // the engine's bucket-decomposed rewrite emits each overlapping
    // pair exactly once
    "q_interval_overlap" ->
      """WITH base AS (
        |  SELECT user_id, event_type, CAST(ts AS DATE) AS d,
        |    epoch_us(CAST(ts AS TIMESTAMP)) // 1000000 AS es
        |  FROM events
        |),
        |ud AS (
        |  SELECT user_id, d, MIN(es) AS u_start, MAX(es) AS u_end,
        |    CAST(COUNT(*) AS BIGINT) AS n_events
        |  FROM base GROUP BY 1, 2
        |),
        |win AS (
        |  SELECT event_type, d, MIN(es) AS w_start,
        |    MIN(es) + 21600 AS w_end
        |  FROM base GROUP BY 1, 2
        |)
        |SELECT u.user_id, w.event_type, w.d,
        |  LEAST(u.u_end, w.w_end) - GREATEST(u.u_start, w.w_start) AS overlap_sec,
        |  u.n_events
        |FROM ud u JOIN win w
        |  ON u.u_start <= w.w_end AND w.w_start <= u.u_end
        |ORDER BY u.user_id, w.event_type, w.d""".stripMargin,

    // mirrors Cohorts.welchTTest: per-(metric,user) cent totals,
    // parity arms, exact HUGEINT moments, Welch t + Satterthwaite df
    "q_welch_ttest" ->
      s"""WITH pu AS (
         |  SELECT event_type AS metric, user_id,
         |    CAST(user_id % 2 AS INTEGER) AS v,
         |    CAST(SUM(${sc("value", 2)}) AS BIGINT) AS y
         |  FROM events GROUP BY 1, 2
         |),
         |m AS (
         |  SELECT metric,
         |    CAST(SUM(CASE WHEN v = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
         |    CAST(SUM(CASE WHEN v = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         |    CAST(SUM(CASE WHEN v = 0 THEN y ELSE 0 END) AS BIGINT) AS s0,
         |    CAST(SUM(CASE WHEN v = 1 THEN y ELSE 0 END) AS BIGINT) AS s1,
         |    SUM(CASE WHEN v = 0 THEN CAST(y AS HUGEINT) * y ELSE 0 END) AS ss0,
         |    SUM(CASE WHEN v = 1 THEN CAST(y AS HUGEINT) * y ELSE 0 END) AS ss1
         |  FROM pu GROUP BY metric
         |  HAVING SUM(CASE WHEN v = 0 THEN 1 ELSE 0 END) >= 2
         |     AND SUM(CASE WHEN v = 1 THEN 1 ELSE 0 END) >= 2
         |),
         |w AS (
         |  SELECT metric, n0, n1, s0, s1,
         |    CAST(n0 * ss0 - CAST(s0 AS HUGEINT) * s0 AS DOUBLE)
         |      / (CAST(n0 AS DOUBLE) * CAST(n0 - 1 AS DOUBLE)) / n0 AS se0,
         |    CAST(n1 * ss1 - CAST(s1 AS HUGEINT) * s1 AS DOUBLE)
         |      / (CAST(n1 AS DOUBLE) * CAST(n1 - 1 AS DOUBLE)) / n1 AS se1
         |  FROM m
         |)
         |SELECT metric, n0, n1,
         |  ${rd("CAST(s0 AS DOUBLE) / n0 / 100.0", 4)} AS mean0,
         |  ${rd("CAST(s1 AS DOUBLE) / n1 / 100.0", 4)} AS mean1,
         |  ${rd("""(CAST(s0 AS DOUBLE) / n0 - CAST(s1 AS DOUBLE) / n1)
         |    / NULLIF(sqrt(se0 + se1), 0)""", 4)} AS t_welch,
         |  ${rd("""(se0 + se1) * (se0 + se1)
         |    / NULLIF(se0 * se0 / (n0 - 1) + se1 * se1 / (n1 - 1), 0)""", 2)} AS df_welch
         |FROM w ORDER BY metric""".stripMargin,

    // mirrors Cohorts.kruskalWallis: per-day mid-ranks as exact 2r̄
    // longs, HUGEINT-safe tie term, scale-6 Σ R²/n, tie-corrected H
    "q_kruskal_wallis" ->
      s"""WITH e AS (
         |  SELECT CAST(ts AS DATE) AS d, event_type AS g,
         |    ${sc("value", 2)} AS y
         |  FROM events
         |),
         |r AS (
         |  SELECT d, g, y,
         |    RANK() OVER (PARTITION BY d ORDER BY y) AS rmin,
         |    COUNT(*) OVER (PARTITION BY d, y) AS tcnt
         |  FROM e
         |),
         |gr AS (
         |  SELECT d, g, CAST(COUNT(*) AS BIGINT) AS nj,
         |    CAST(SUM(2 * rmin + tcnt - 1) AS BIGINT) AS r2j
         |  FROM r GROUP BY d, g
         |),
         |ti AS (
         |  SELECT d, CAST(SUM(tcnt * tcnt * tcnt - tcnt) AS BIGINT) AS tie_sum
         |  FROM (SELECT DISTINCT d, y, tcnt FROM r) GROUP BY d
         |),
         |nd AS (
         |  SELECT d, CAST(SUM(nj) AS BIGINT) AS n, CAST(COUNT(*) AS BIGINT) AS k,
         |    CAST(SUM(${sc("CAST(r2j AS DOUBLE) * CAST(r2j AS DOUBLE) / (4.0 * nj)", 6)}) AS BIGINT) AS sr6
         |  FROM gr GROUP BY d
         |),
         |hh AS (
         |  SELECT nd.d, n, k,
         |    12.0 * (CAST(sr6 AS DOUBLE) / 1000000.0)
         |      / (CAST(n AS DOUBLE) * (n + 1)) - 3.0 * (n + 1) AS h,
         |    1.0 - CAST(tie_sum AS DOUBLE)
         |      / (CAST(n AS DOUBLE) * n * n - n) AS corr
         |  FROM nd JOIN ti ON nd.d = ti.d
         |  WHERE k >= 2 AND n >= k + 1
         |)
         |SELECT d, n, k, ${rd("h", 4)} AS h_stat,
         |  ${rd("h / NULLIF(corr, 0)", 4)} AS h_tie_corrected
         |FROM hh ORDER BY d""".stripMargin,

    // mirrors DailyAnalytics.bhFdr: exact scale-4 moments → z, A&S
    // 7.1.26 two-sided p (string-cast literals bit-match the Scala
    // doubles), rank/step-up on the 6-dp-rounded p
    // mirrors DailyAnalytics.ljungBox (h=5): one lag join serving all
    // lags, full-sample-mean rho, fixed-order Q sum over pivoted rhos
    "q_ljung_box" ->
      s"""${dailyChain("returns")},
         |r AS (SELECT symbol, trade_date, ${sc4("daily_return_pct")} AS y
         |  FROM returns WHERE daily_return_pct IS NOT NULL),
         |b AS (SELECT symbol, y,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY symbol ORDER BY trade_date) AS BIGINT) AS idx
         |  FROM r),
         |tot AS (SELECT symbol, CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(SUM(y) AS BIGINT) AS sy, SUM(CAST(y AS HUGEINT) * y) AS syy
         |  FROM b GROUP BY symbol),
         |l AS (SELECT b.symbol, ks.k, b.y AS y, b2.y AS yl
         |  FROM b CROSS JOIN (SELECT UNNEST([1, 2, 3, 4, 5]) AS k) ks
         |  JOIN b b2 ON b2.symbol = b.symbol AND b2.idx = b.idx - ks.k),
         |pl AS (SELECT symbol, k, CAST(COUNT(*) AS BIGINT) AS nk,
         |    CAST(SUM(y) AS BIGINT) AS sa, CAST(SUM(yl) AS BIGINT) AS sb,
         |    SUM(CAST(y AS HUGEINT) * yl) AS sab
         |  FROM l GROUP BY symbol, k),
         |t AS (SELECT symbol, n, k,
         |    (CAST(sab AS DOUBLE)
         |      - (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)) * CAST(sa + sb AS DOUBLE)
         |      + CAST(nk AS DOUBLE) * (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
         |          * (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)))
         |    / NULLIF(CAST(syy AS DOUBLE)
         |      - CAST(n AS DOUBLE) * (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
         |          * (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)), 0) AS rho
         |  FROM pl JOIN tot USING (symbol) WHERE n >= 40),
         |p AS (SELECT symbol, MAX(n) AS n_days,
         |    MAX(CASE WHEN k = 1 THEN rho END) AS r1,
         |    MAX(CASE WHEN k = 2 THEN rho END) AS r2,
         |    MAX(CASE WHEN k = 3 THEN rho END) AS r3,
         |    MAX(CASE WHEN k = 4 THEN rho END) AS r4,
         |    MAX(CASE WHEN k = 5 THEN rho END) AS r5
         |  FROM t GROUP BY symbol)
         |SELECT symbol, n_days,
         |  ${rd("r1", 4)} AS rho_1, ${rd("r2", 4)} AS rho_2,
         |  ${rd("r3", 4)} AS rho_3, ${rd("r4", 4)} AS rho_4,
         |  ${rd("r5", 4)} AS rho_5,
         |  ${rd("(r1 * r1 / (CAST(n_days AS DOUBLE) - 1.0) + r2 * r2 / (CAST(n_days AS DOUBLE) - 2.0) + r3 * r3 / (CAST(n_days AS DOUBLE) - 3.0) + r4 * r4 / (CAST(n_days AS DOUBLE) - 4.0) + r5 * r5 / (CAST(n_days AS DOUBLE) - 5.0)) * CAST(n_days AS DOUBLE) * (CAST(n_days AS DOUBLE) + 2.0)", 4)} AS q_stat,
         |  5 AS lb_df
         |FROM p ORDER BY symbol""".stripMargin,

    // mirrors DailyAnalytics.ewmaVolatility: λ=94/100 integer EWMA of
    // scale-2 squared returns via list_reduce, seeded with r²_1
    "q_ewma_vol" ->
      s"""${dailyChain("returns")},
         |g AS (SELECT symbol,
         |    list(${sc("daily_return_pct", 2)} ORDER BY trade_date) AS ys
         |  FROM returns WHERE daily_return_pct IS NOT NULL
         |  GROUP BY symbol),
         |f AS (SELECT symbol, CAST(len(ys) AS BIGINT) AS n_days,
         |    list_reduce(
         |      list_transform(ys, y -> [1::BIGINT, y * y]),
         |      (acc, x) -> [acc[1] + 1, (94 * acc[2] + 6 * x[2]) // 100]) AS st
         |  FROM g)
         |SELECT symbol, n_days,
         |  ${rd("sqrt(CAST(st[2] AS DOUBLE)) / 100.0", 4)} AS ewma_vol_pct
         |FROM f WHERE n_days >= 30 ORDER BY symbol""".stripMargin,

    // mirrors DailyAnalytics.garchFilter: variance-targeted GARCH(1,1)
    // (α=6%, β=92%, ω=2%·v̄) as an integer list_reduce seeded v₀ = v̄
    "q_garch_filter" ->
      s"""${dailyChain("returns")},
         |g AS (SELECT symbol,
         |    list(${sc("daily_return_pct", 2)} ORDER BY trade_date) AS ys
         |  FROM returns WHERE daily_return_pct IS NOT NULL
         |  GROUP BY symbol),
         |q AS (SELECT symbol, CAST(len(ys) AS BIGINT) AS n_days,
         |    list_transform(ys, y -> y * y) AS qs FROM g),
         |v AS (SELECT symbol, n_days, qs,
         |    CAST(list_sum(qs) AS BIGINT) // n_days AS vbar
         |  FROM q WHERE n_days >= 30),
         |f AS (SELECT symbol, n_days, vbar,
         |    list_reduce(
         |      list_prepend([0::BIGINT, vbar],
         |        list_transform(qs, q -> [1::BIGINT, q])),
         |      (acc, e) -> [acc[1] + 1,
         |        (2 * vbar + 6 * e[2] + 92 * acc[2]) // 100]) AS st
         |  FROM v)
         |SELECT symbol, n_days,
         |  ${rd("sqrt(CAST(vbar AS DOUBLE)) / 100.0", 4)} AS long_run_vol_pct,
         |  ${rd("sqrt(CAST(st[2] AS DOUBLE)) / 100.0", 4)} AS garch_vol_pct
         |FROM f ORDER BY symbol""".stripMargin,

    // mirrors DailyAnalytics.holtLinear: α=30/β=10 integer Holt fold
    // over scale-2 closes, l₂=y₂, b₂=y₂−y₁, folded from t=3; DuckDB's
    // // truncates toward zero exactly like Spark's div (measured)
    "q_holt_linear" ->
      s"""${dailyChain("bars")},
         |g AS (SELECT symbol,
         |    list(${sc("close_price", 2)} ORDER BY trade_date) AS ys
         |  FROM bars GROUP BY symbol),
         |n AS (SELECT symbol, CAST(len(ys) AS BIGINT) AS n_days, ys
         |  FROM g WHERE len(ys) >= 30),
         |f AS (SELECT symbol, n_days,
         |    list_reduce(
         |      list_prepend([ys[2], ys[2] - ys[1], 0::BIGINT, 2::BIGINT],
         |        list_transform(ys[3:], y -> [y, 0::BIGINT, 0::BIGINT, 0::BIGINT])),
         |      (acc, e) -> [
         |        (30 * e[1] + 70 * (acc[1] + acc[2])) // 100,
         |        (10 * ((30 * e[1] + 70 * (acc[1] + acc[2])) // 100 - acc[1])
         |          + 90 * acc[2]) // 100,
         |        acc[3] + abs(e[1] - (acc[1] + acc[2])),
         |        acc[4] + 1]) AS st
         |  FROM n)
         |SELECT symbol, n_days,
         |  ${rd("CAST(st[1] AS DOUBLE) / 100.0", 2)} AS level,
         |  ${rd("CAST(st[2] AS DOUBLE) / 100.0", 4)} AS trend_per_day,
         |  ${rd("CAST(st[1] + 5 * st[2] AS DOUBLE) / 100.0", 2)} AS forecast_5d,
         |  ${rd("CAST(st[3] AS DOUBLE) / 100.0 / (CAST(n_days AS DOUBLE) - 1.0)", 4)} AS one_step_mae
         |FROM f ORDER BY symbol""".stripMargin,

    // mirrors DailyAnalytics.jarqueBera: exact power sums (HUGEINT
    // 2nd-4th moments), one fixed double tree for skew/kurt/JB
    "q_jarque_bera" ->
      s"""${dailyChain("returns")},
         |g AS (SELECT symbol, CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(SUM(y) AS BIGINT) AS s1,
         |    SUM(CAST(y AS HUGEINT) * y) AS s2,
         |    SUM(CAST(y AS HUGEINT) * y * y) AS s3,
         |    SUM(CAST(y AS HUGEINT) * y * y * y) AS s4
         |  FROM (SELECT symbol, ${sc4("daily_return_pct")} AS y FROM returns
         |        WHERE daily_return_pct IS NOT NULL)
         |  GROUP BY symbol HAVING COUNT(*) >= 30),
         |d AS (SELECT symbol, n, CAST(n AS DOUBLE) AS nd,
         |    CAST(s1 AS DOUBLE) AS d1, CAST(s2 AS DOUBLE) AS d2,
         |    CAST(s3 AS DOUBLE) AS d3, CAST(s4 AS DOUBLE) AS d4 FROM g),
         |m AS (SELECT symbol, n, nd, d1 / nd AS mu, d2, d3, d4 FROM d),
         |c AS (SELECT symbol, n, nd,
         |    d2 / nd - mu * mu AS m2,
         |    d3 / nd - 3.0 * mu * (d2 / nd) + 2.0 * mu * mu * mu AS m3,
         |    d4 / nd - 4.0 * mu * (d3 / nd) + 6.0 * mu * mu * (d2 / nd)
         |      - 3.0 * mu * mu * mu * mu AS m4
         |  FROM m),
         |k AS (SELECT symbol, n, nd,
         |    m3 / NULLIF(sqrt(m2 * m2 * m2), 0) AS skew,
         |    m4 / NULLIF(m2 * m2, 0) AS kurt FROM c),
         |j AS (SELECT symbol, n, skew, kurt,
         |    nd / 6.0 * (skew * skew + (kurt - 3.0) * (kurt - 3.0) / 4.0) AS jb
         |  FROM k)
         |SELECT symbol, n AS n_days, ${rd("skew", 4)} AS skewness,
         |  ${rd("kurt", 4)} AS kurtosis, ${rd("jb", 4)} AS jb_stat,
         |  jb > 5.9915 AS normal_rej
         |FROM j ORDER BY symbol""".stripMargin,

    // mirrors DailyAnalytics.leadLagAdjacent: adjacent pairs, one
    // (pair, idx−k) join serving lags −2..2, exact moments per lag,
    // best lag by |ρ| with nulls coalesced to −1 and earliest-lag ties
    "q_lead_lag" ->
      s"""${dailyChain("returns")},
         |r AS (SELECT symbol, trade_date, ${sc4("daily_return_pct")} AS y
         |  FROM returns WHERE daily_return_pct IS NOT NULL),
         |syms AS (SELECT symbol,
         |    CAST(ROW_NUMBER() OVER (ORDER BY symbol) AS BIGINT) AS rk
         |  FROM (SELECT DISTINCT symbol FROM r)),
         |pairs AS (SELECT a.symbol AS s1, b.symbol AS s2
         |  FROM syms a JOIN syms b ON b.rk = a.rk + 1),
         |panel AS (SELECT s1, s2, ya, yb,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY s1, s2 ORDER BY trade_date) AS BIGINT) AS idx
         |  FROM (SELECT p.s1, p.s2, ra.trade_date, ra.y AS ya, rb.y AS yb
         |    FROM pairs p
         |    JOIN r ra ON ra.symbol = p.s1
         |    JOIN r rb ON rb.symbol = p.s2 AND rb.trade_date = ra.trade_date)),
         |l AS (SELECT b.s1, b.s2, ks.k, b.ya AS a, b2.yb AS b
         |  FROM panel b CROSS JOIN (SELECT UNNEST([-2, -1, 0, 1, 2]) AS k) ks
         |  JOIN panel b2 ON b2.s1 = b.s1 AND b2.s2 = b.s2 AND b2.idx = b.idx - ks.k),
         |g AS (SELECT s1, s2, k, CAST(COUNT(*) AS BIGINT) AS nk,
         |    CAST(SUM(a) AS BIGINT) AS sa, CAST(SUM(b) AS BIGINT) AS sb,
         |    SUM(CAST(a AS HUGEINT) * a) AS saa,
         |    SUM(CAST(b AS HUGEINT) * b) AS sbb,
         |    SUM(CAST(a AS HUGEINT) * b) AS sab
         |  FROM l GROUP BY s1, s2, k),
         |t AS (SELECT s1, s2, k, nk,
         |    (CAST(sab AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE) / CAST(nk AS DOUBLE))
         |    / NULLIF(sqrt((CAST(saa AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE) / CAST(nk AS DOUBLE))
         |        * (CAST(sbb AS DOUBLE) - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE) / CAST(nk AS DOUBLE))), 0) AS rho
         |  FROM g),
         |p AS (SELECT s1, s2,
         |    MAX(CASE WHEN k = 0 THEN nk END) AS n_days,
         |    MAX(CASE WHEN k = -2 THEN rho END) AS rm2,
         |    MAX(CASE WHEN k = -1 THEN rho END) AS rm1,
         |    MAX(CASE WHEN k = 0 THEN rho END) AS r0,
         |    MAX(CASE WHEN k = 1 THEN rho END) AS rp1,
         |    MAX(CASE WHEN k = 2 THEN rho END) AS rp2
         |  FROM t GROUP BY s1, s2 HAVING MAX(CASE WHEN k = 0 THEN nk END) >= 40),
         |a AS (SELECT *, COALESCE(abs(rm2), -1.0) AS am2,
         |    COALESCE(abs(rm1), -1.0) AS am1, COALESCE(abs(r0), -1.0) AS a0,
         |    COALESCE(abs(rp1), -1.0) AS ap1, COALESCE(abs(rp2), -1.0) AS ap2
         |  FROM p),
         |b AS (SELECT *, greatest(am2, am1, a0, ap1, ap2) AS m FROM a)
         |SELECT s1, s2, n_days,
         |  ${rd("rm2", 4)} AS rho_m2, ${rd("rm1", 4)} AS rho_m1,
         |  ${rd("r0", 4)} AS rho_0, ${rd("rp1", 4)} AS rho_p1,
         |  ${rd("rp2", 4)} AS rho_p2,
         |  CASE WHEN am2 = m THEN -2 WHEN am1 = m THEN -1 WHEN a0 = m THEN 0
         |       WHEN ap1 = m THEN 1 ELSE 2 END AS best_lag,
         |  ${rd("CASE WHEN am2 = m THEN rm2 WHEN am1 = m THEN rm1 WHEN a0 = m THEN r0 WHEN ap1 = m THEN rp1 ELSE rp2 END", 4)} AS best_rho
         |FROM b ORDER BY s1, s2""".stripMargin,

    // mirrors DailyAnalytics.neweyWest: Bartlett L=2 HAC variance of
    // the mean return, γ_k from the shared lag join, each over full n
    "q_newey_west" ->
      s"""${dailyChain("returns")},
         |r AS (SELECT symbol, trade_date, ${sc4("daily_return_pct")} AS y
         |  FROM returns WHERE daily_return_pct IS NOT NULL),
         |b AS (SELECT symbol, y,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY symbol ORDER BY trade_date) AS BIGINT) AS idx
         |  FROM r),
         |tot AS (SELECT symbol, CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(SUM(y) AS BIGINT) AS sy, SUM(CAST(y AS HUGEINT) * y) AS syy
         |  FROM b GROUP BY symbol),
         |l AS (SELECT b.symbol, ks.k, b.y AS y, b2.y AS yl
         |  FROM b CROSS JOIN (SELECT UNNEST([1, 2]) AS k) ks
         |  JOIN b b2 ON b2.symbol = b.symbol AND b2.idx = b.idx - ks.k),
         |pl AS (SELECT symbol, k, CAST(COUNT(*) AS BIGINT) AS nk,
         |    CAST(SUM(y) AS BIGINT) AS sa, CAST(SUM(yl) AS BIGINT) AS sb,
         |    SUM(CAST(y AS HUGEINT) * yl) AS sab
         |  FROM l GROUP BY symbol, k),
         |t AS (SELECT symbol, n, sy, syy, k,
         |    (CAST(sab AS DOUBLE)
         |      - (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)) * CAST(sa + sb AS DOUBLE)
         |      + CAST(nk AS DOUBLE) * (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
         |          * (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)))
         |    / CAST(n AS DOUBLE) AS g
         |  FROM pl JOIN tot USING (symbol) WHERE n >= 40),
         |p AS (SELECT symbol, MAX(n) AS n, MAX(sy) AS sy, MAX(syy) AS syy,
         |    MAX(CASE WHEN k = 1 THEN g END) AS g1,
         |    MAX(CASE WHEN k = 2 THEN g END) AS g2
         |  FROM t GROUP BY symbol),
         |d AS (SELECT symbol, n, g1, g2, CAST(n AS DOUBLE) AS nd,
         |    CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS mu,
         |    CAST(syy AS DOUBLE) AS dyy FROM p),
         |e AS (SELECT *, (dyy - nd * mu * mu) / nd AS g0 FROM d),
         |f AS (SELECT *, sqrt((g0 + 2.0 * (2.0 * g1 + g2) / 3.0) / nd) AS se FROM e),
         |h AS (SELECT *, mu / NULLIF(se, 0) AS t FROM f)
         |SELECT symbol, n AS n_days,
         |  ${rd("mu / 10000.0", 4)} AS mean_return_pct,
         |  ${rd("se / 10000.0", 6)} AS hac_se_pct,
         |  ${rd("t", 4)} AS t_stat,
         |  abs(t) > 1.96 AS drift_sig
         |FROM h ORDER BY symbol""".stripMargin,

    // mirrors DailyAnalytics.runsTest: nonzero sign sequence, flip
    // count by lag window, Wald–Wolfowitz moments in one double tree
    "q_runs_test" ->
      s"""${dailyChain("returns")},
         |r AS (SELECT symbol, trade_date,
         |    CASE WHEN ${sc4("daily_return_pct")} > 0 THEN 1 ELSE -1 END AS s
         |  FROM returns WHERE daily_return_pct IS NOT NULL
         |    AND ${sc4("daily_return_pct")} <> 0),
         |b AS (SELECT symbol, s,
         |    LAG(s) OVER (PARTITION BY symbol ORDER BY trade_date) AS prev
         |  FROM r),
         |g AS (SELECT symbol, CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(SUM(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
         |    CAST(SUM(CASE WHEN s = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_neg,
         |    CAST(SUM(CASE WHEN prev IS NOT NULL AND s <> prev THEN 1 ELSE 0 END) AS BIGINT) AS flips
         |  FROM b GROUP BY symbol HAVING COUNT(*) >= 40),
         |d AS (SELECT symbol, n, n_pos, n_neg, flips,
         |    CAST(n AS DOUBLE) AS nd, CAST(n_pos AS DOUBLE) AS npd,
         |    CAST(n_neg AS DOUBLE) AS nnd,
         |    CAST(flips + 1 AS DOUBLE) AS rr FROM g),
         |e AS (SELECT *,
         |    1.0 + 2.0 * npd * nnd / nd AS mu_r,
         |    2.0 * npd * nnd * (2.0 * npd * nnd - nd) / (nd * nd * (nd - 1.0)) AS sig2
         |  FROM d),
         |f AS (SELECT *, (rr - mu_r) / NULLIF(sqrt(sig2), 0) AS z FROM e)
         |SELECT symbol, n AS n_days, n_pos, n_neg,
         |  CAST(flips + 1 AS BIGINT) AS n_runs,
         |  ${rd("z", 4)} AS z_stat, abs(z) > 1.96 AS random_rej
         |FROM f ORDER BY symbol""".stripMargin,

    // mirrors DailyAnalytics.upDownBeta: the q_market_beta index,
    // conditional HUGEINT moments per regime, final scalars as in
    // the marketBeta mirror, capture = β⁺/β⁻
    "q_updown_beta" ->
      s"""${dailyChain("returns")},
         |r AS (SELECT symbol, trade_date, ${sc4("daily_return_pct")} AS y
         |  FROM returns WHERE daily_return_pct IS NOT NULL),
         |mkt AS (SELECT trade_date,
         |    CAST(FLOOR(SUM(y) / CAST(COUNT(*) AS DOUBLE)) AS BIGINT) AS x
         |  FROM r GROUP BY trade_date),
         |g AS (SELECT symbol,
         |    CAST(SUM(CASE WHEN x > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_up,
         |    CAST(SUM(CASE WHEN x > 0 THEN x END) AS BIGINT) AS sx_up,
         |    CAST(SUM(CASE WHEN x > 0 THEN y END) AS BIGINT) AS sy_up,
         |    SUM(CASE WHEN x > 0 THEN CAST(x AS HUGEINT) * y END) AS sxy_up,
         |    SUM(CASE WHEN x > 0 THEN CAST(x AS HUGEINT) * x END) AS sxx_up,
         |    CAST(SUM(CASE WHEN x < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_dn,
         |    CAST(SUM(CASE WHEN x < 0 THEN x END) AS BIGINT) AS sx_dn,
         |    CAST(SUM(CASE WHEN x < 0 THEN y END) AS BIGINT) AS sy_dn,
         |    SUM(CASE WHEN x < 0 THEN CAST(x AS HUGEINT) * y END) AS sxy_dn,
         |    SUM(CASE WHEN x < 0 THEN CAST(x AS HUGEINT) * x END) AS sxx_dn
         |  FROM r JOIN mkt USING (trade_date)
         |  GROUP BY symbol
         |  HAVING SUM(CASE WHEN x > 0 THEN 1 ELSE 0 END) >= 10
         |     AND SUM(CASE WHEN x < 0 THEN 1 ELSE 0 END) >= 10),
         |k AS (SELECT symbol, n_up, n_dn,
         |    CAST(CAST(n_up AS HUGEINT) * sxy_up - CAST(sx_up AS HUGEINT) * sy_up AS DOUBLE)
         |      / NULLIF(CAST(CAST(n_up AS HUGEINT) * sxx_up - CAST(sx_up AS HUGEINT) * sx_up AS DOUBLE), 0) AS bu,
         |    CAST(CAST(n_dn AS HUGEINT) * sxy_dn - CAST(sx_dn AS HUGEINT) * sy_dn AS DOUBLE)
         |      / NULLIF(CAST(CAST(n_dn AS HUGEINT) * sxx_dn - CAST(sx_dn AS HUGEINT) * sx_dn AS DOUBLE), 0) AS bd
         |  FROM g)
         |SELECT symbol, n_up, n_dn,
         |  ${rd("bu", 4)} AS beta_up, ${rd("bd", 4)} AS beta_down,
         |  ${rd("bu / NULLIF(bd, 0)", 4)} AS capture_ratio
         |FROM k ORDER BY symbol""".stripMargin,

    // mirrors DailyAnalytics.woeIv: next-day direction by symbol
    // lead, cross-sectional ntile(10) with symbol tiebreak, WOE/IV
    // with scale-6 integer terms before the order-free window sum
    "q_woe_iv" ->
      s"""${dailyChain("returns")},
         |r AS (SELECT symbol, trade_date, ${sc4("daily_return_pct")} AS y
         |  FROM returns WHERE daily_return_pct IS NOT NULL),
         |l AS (SELECT symbol, trade_date, y,
         |    LEAD(y) OVER (PARTITION BY symbol ORDER BY trade_date) AS y_next
         |  FROM r),
         |d AS (SELECT *, NTILE(10) OVER (PARTITION BY trade_date ORDER BY y, symbol) AS decile
         |  FROM l WHERE y_next IS NOT NULL),
         |g AS (SELECT decile,
         |    CAST(SUM(CASE WHEN y_next > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
         |    CAST(SUM(CASE WHEN y_next <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_neg
         |  FROM d GROUP BY decile),
         |w AS (SELECT decile, n_pos, n_neg,
         |    CAST(n_pos AS DOUBLE) / CAST(SUM(n_pos) OVER () AS DOUBLE) AS p,
         |    CAST(n_neg AS DOUBLE) / CAST(SUM(n_neg) OVER () AS DOUBLE) AS q
         |  FROM g),
         |t AS (SELECT decile, n_pos, n_neg,
         |    CASE WHEN n_pos > 0 AND n_neg > 0 THEN ln(p / q) END AS woe,
         |    CASE WHEN n_pos > 0 AND n_neg > 0
         |      THEN ${sc("(p - q) * ln(p / q)", 6)} END AS iv6
         |  FROM w)
         |SELECT decile, n_pos, n_neg, ${rd("woe", 4)} AS woe,
         |  CAST(iv6 AS DOUBLE) / 1000000.0 AS iv_term,
         |  ${rd("CAST(SUM(iv6) OVER () AS DOUBLE) / 1000000.0", 4)} AS iv_total
         |FROM t ORDER BY decile""".stripMargin,

    // mirrors DailyAnalytics.omegaRatio: exact scale-4 gain/loss sums
    "q_omega_ratio" ->
      s"""${dailyChain("returns")},
         |r AS (SELECT symbol, ${sc4("daily_return_pct")} AS y
         |  FROM returns WHERE daily_return_pct IS NOT NULL),
         |g AS (SELECT symbol, CAST(COUNT(*) AS BIGINT) AS n_days,
         |    CAST(SUM(CASE WHEN y > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_up,
         |    CAST(SUM(CASE WHEN y < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_down,
         |    CAST(SUM(CASE WHEN y > 0 THEN y ELSE 0 END) AS BIGINT) AS gains,
         |    CAST(SUM(CASE WHEN y < 0 THEN -y ELSE 0 END) AS BIGINT) AS losses
         |  FROM r GROUP BY symbol HAVING COUNT(*) >= 30)
         |SELECT symbol, n_days, n_up, n_down,
         |  ${rd("CAST(gains AS DOUBLE) / 10000.0", 4)} AS sum_gains_pct,
         |  ${rd("CAST(losses AS DOUBLE) / 10000.0", 4)} AS sum_losses_pct,
         |  ${rd("CAST(gains AS DOUBLE) / NULLIF(CAST(losses AS DOUBLE), 0)", 4)} AS omega
         |FROM g ORDER BY symbol""".stripMargin,

    // mirrors DailyAnalytics.calmarRatio: running peak over the
    // null-return-filtered rows, scale-4 drawdown before the min
    "q_calmar" ->
      s"""${dailyChain("returns")},
         |d AS (SELECT symbol, ${sc4("daily_return_pct")} AS y,
         |    ${sc("(close_price - MAX(close_price) OVER w) / NULLIF(MAX(close_price) OVER w, 0) * 100", 4)} AS dd4
         |  FROM (SELECT * FROM returns WHERE daily_return_pct IS NOT NULL)
         |  WINDOW w AS (PARTITION BY symbol ORDER BY trade_date ROWS UNBOUNDED PRECEDING)),
         |g AS (SELECT symbol, CAST(COUNT(*) AS BIGINT) AS n_days,
         |    CAST(SUM(y) AS BIGINT) AS sy, CAST(MIN(dd4) AS BIGINT) AS mdd4
         |  FROM d GROUP BY symbol HAVING COUNT(*) >= 30),
         |k AS (SELECT symbol, n_days,
         |    CAST(sy AS DOUBLE) / CAST(n_days AS DOUBLE) / 10000.0 * 252.0 AS ann,
         |    CAST(mdd4 AS DOUBLE) / 10000.0 AS mdd FROM g)
         |SELECT symbol, n_days,
         |  ${rd("ann", 4)} AS ann_return_pct,
         |  ${rd("mdd", 4)} AS max_drawdown_pct,
         |  ${rd("ann / NULLIF(abs(mdd), 0)", 4)} AS calmar
         |FROM k ORDER BY symbol""".stripMargin,

    // mirrors DailyAnalytics.ulcerIndex: scale-4 drawdowns, HUGEINT
    // squared sum, one final sqrt
    "q_ulcer_index" ->
      s"""${dailyChain("returns")},
         |d AS (SELECT symbol, ${sc4("daily_return_pct")} AS y,
         |    ${sc("(close_price - MAX(close_price) OVER w) / NULLIF(MAX(close_price) OVER w, 0) * 100", 4)} AS dd4
         |  FROM (SELECT * FROM returns WHERE daily_return_pct IS NOT NULL)
         |  WINDOW w AS (PARTITION BY symbol ORDER BY trade_date ROWS UNBOUNDED PRECEDING)),
         |g AS (SELECT symbol, CAST(COUNT(*) AS BIGINT) AS n_days,
         |    CAST(SUM(y) AS BIGINT) AS sy,
         |    SUM(CAST(dd4 AS HUGEINT) * dd4) AS sdd2
         |  FROM d GROUP BY symbol HAVING COUNT(*) >= 30),
         |k AS (SELECT symbol, n_days,
         |    sqrt(CAST(sdd2 AS DOUBLE) / CAST(n_days AS DOUBLE)) / 10000.0 AS ui,
         |    CAST(sy AS DOUBLE) / CAST(n_days AS DOUBLE) / 10000.0 * 252.0 AS ann
         |  FROM g)
         |SELECT symbol, n_days,
         |  ${rd("ui", 4)} AS ulcer_index,
         |  ${rd("ann", 4)} AS ann_return_pct,
         |  ${rd("ann / NULLIF(ui, 0)", 4)} AS martin_ratio
         |FROM k ORDER BY symbol""".stripMargin,

    // mirrors qOuHalflife: the q_dickey_fuller chain, then θ and the
    // half-life from the ROUNDED γ (the compose contract)
    "q_ou_halflife" ->
      s"""${dailyChain("bars")},
         |d0 AS (
         |  SELECT symbol, ${sc("close_price", 2)} AS p,
         |    LAG(${sc("close_price", 2)}, 1) OVER w AS x
         |  FROM bars WINDOW w AS (PARTITION BY symbol ORDER BY trade_date)),
         |d AS (SELECT symbol, x, p - x AS y FROM d0 WHERE x IS NOT NULL),
         |g AS (
         |  SELECT symbol, CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         |    CAST(SUM(x * y) AS BIGINT) AS sxy,
         |    SUM(CAST(x AS HUGEINT) * x) AS sxx,
         |    CAST(SUM(y * y) AS BIGINT) AS syy
         |  FROM d GROUP BY symbol HAVING COUNT(*) >= 30),
         |k AS (
         |  SELECT symbol, n AS n_days,
         |    CAST(n AS DOUBLE) AS nd, CAST(sx AS DOUBLE) AS dx, CAST(sy AS DOUBLE) AS dy,
         |    CAST(sxy AS DOUBLE) AS dxy, CAST(sxx AS DOUBLE) AS dxx, CAST(syy AS DOUBLE) AS dyy
         |  FROM g),
         |m AS (
         |  SELECT symbol, n_days,
         |    (nd * dxy - dx * dy) / (nd * dxx - dx * dx) AS gamma,
         |    dxx - dx * dx / nd AS sxx_c,
         |    dyy - dy * dy / nd AS syy_c,
         |    nd
         |  FROM k),
         |f AS (
         |  SELECT symbol, n_days, gamma,
         |    gamma * sqrt(sxx_c / ((syy_c - gamma * gamma * sxx_c) / (nd - 2.0))) AS t
         |  FROM m),
         |r AS (SELECT symbol, n_days, ${rd("gamma", 4)} AS gr, t FROM f)
         |SELECT symbol, n_days, gr AS gamma,
         |  ${rd("CASE WHEN gr < 0 AND gr > -1 THEN -ln(1.0 + gr) END", 6)} AS reversion_theta,
         |  ${rd("CASE WHEN gr < 0 AND gr > -1 THEN -ln(2.0) / ln(1.0 + gr) END", 4)} AS half_life_days,
         |  t < -2.86 AS reject_unit_root
         |FROM r ORDER BY symbol""".stripMargin,

    // mirrors DailyAnalytics.grangerAdjacent: adjacent pairs, lag-1
    // restricted/unrestricted centered OLS, HUGEINT second moments
    "q_granger" ->
      s"""${dailyChain("returns")},
         |r AS (SELECT symbol, trade_date, ${sc4("daily_return_pct")} AS y
         |  FROM returns WHERE daily_return_pct IS NOT NULL),
         |syms AS (SELECT symbol,
         |    CAST(ROW_NUMBER() OVER (ORDER BY symbol) AS BIGINT) AS rk
         |  FROM (SELECT DISTINCT symbol FROM r)),
         |pairs AS (SELECT a.symbol AS s1, b.symbol AS s2
         |  FROM syms a JOIN syms b ON b.rk = a.rk + 1),
         |panel AS (SELECT p.s1, p.s2, ra.trade_date, ra.y AS ya, rb.y AS yb
         |  FROM pairs p
         |  JOIN r ra ON ra.symbol = p.s1
         |  JOIN r rb ON rb.symbol = p.s2 AND rb.trade_date = ra.trade_date),
         |lagged AS (SELECT s1, s2, ya,
         |    LAG(ya) OVER w AS yl, LAG(yb) OVER w AS xl
         |  FROM panel WINDOW w AS (PARTITION BY s1, s2 ORDER BY trade_date)),
         |g AS (SELECT s1, s2, CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(SUM(ya) AS BIGINT) AS my,
         |    CAST(SUM(yl) AS BIGINT) AS m0, CAST(SUM(xl) AS BIGINT) AS m1,
         |    SUM(CAST(yl AS HUGEINT) * yl) AS m00,
         |    SUM(CAST(yl AS HUGEINT) * xl) AS m01,
         |    SUM(CAST(xl AS HUGEINT) * xl) AS m11,
         |    SUM(CAST(yl AS HUGEINT) * ya) AS m0y,
         |    SUM(CAST(xl AS HUGEINT) * ya) AS m1y,
         |    SUM(CAST(ya AS HUGEINT) * ya) AS myy
         |  FROM lagged WHERE yl IS NOT NULL AND xl IS NOT NULL
         |  GROUP BY s1, s2 HAVING COUNT(*) >= 40),
         |d AS (SELECT s1, s2, n, CAST(n AS DOUBLE) AS nd,
         |    CAST(my AS DOUBLE) AS sy, CAST(m0 AS DOUBLE) AS s0,
         |    CAST(m1 AS DOUBLE) AS s1v, CAST(m00 AS DOUBLE) AS s00,
         |    CAST(m01 AS DOUBLE) AS s01, CAST(m11 AS DOUBLE) AS s11,
         |    CAST(m0y AS DOUBLE) AS s0y, CAST(m1y AS DOUBLE) AS s1y,
         |    CAST(myy AS DOUBLE) AS syy
         |  FROM g),
         |c AS (SELECT *, s00 - s0 * s0 / nd AS s00c, s01 - s0 * s1v / nd AS s01c,
         |    s11 - s1v * s1v / nd AS s11c, s0y - s0 * sy / nd AS s0yc,
         |    s1y - s1v * sy / nd AS s1yc, syy - sy * sy / nd AS syyc
         |  FROM d),
         |k AS (SELECT *, syyc - s0yc * s0yc / NULLIF(s00c, 0) AS rss_r,
         |    s00c * s11c - s01c * s01c AS det FROM c),
         |k2 AS (SELECT *, (s00c * s1yc - s01c * s0yc) / NULLIF(det, 0) AS b1,
         |    (s0yc * s11c - s01c * s1yc) / NULLIF(det, 0) AS b0 FROM k),
         |k3 AS (SELECT *, syyc - (b0 * s0yc + b1 * s1yc) AS rss_u FROM k2),
         |k4 AS (SELECT *, (rss_r - rss_u) / NULLIF(rss_u / (nd - 3.0), 0) AS f FROM k3)
         |SELECT s1, s2, n AS n_days, ${rd("b1", 6)} AS cross_coef,
         |  ${rd("f", 4)} AS f_stat, f > 3.8415 AS granger_sig
         |FROM k4 ORDER BY s1, s2""".stripMargin,

    // mirrors DailyAnalytics.chowBreak: midpoint split, per-segment
    // and pooled centered trend-OLS SSRs, HUGEINT second moments
    "q_chow_break" ->
      s"""${dailyChain("returns")},
         |r AS (SELECT symbol, trade_date, ${sc4("daily_return_pct")} AS y
         |  FROM returns WHERE daily_return_pct IS NOT NULL),
         |b AS (SELECT symbol, y,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY symbol ORDER BY trade_date) AS BIGINT) AS t,
         |    CAST(COUNT(*) OVER (PARTITION BY symbol) AS BIGINT) AS nn
         |  FROM r),
         |hh AS (SELECT *, CASE WHEN t <= nn // 2 THEN 1 ELSE 0 END AS h FROM b),
         |g AS (SELECT symbol, CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(SUM(CASE WHEN h = 1 THEN 1 END) AS BIGINT) AS c1,
         |    CAST(SUM(CASE WHEN h = 0 THEN 1 END) AS BIGINT) AS c0,
         |    CAST(SUM(CASE WHEN h = 1 THEN t END) AS BIGINT) AS st1,
         |    CAST(SUM(CASE WHEN h = 0 THEN t END) AS BIGINT) AS st0,
         |    CAST(SUM(CASE WHEN h = 1 THEN y END) AS BIGINT) AS sy1,
         |    CAST(SUM(CASE WHEN h = 0 THEN y END) AS BIGINT) AS sy0,
         |    SUM(CASE WHEN h = 1 THEN CAST(t AS HUGEINT) * t END) AS qtt1,
         |    SUM(CASE WHEN h = 0 THEN CAST(t AS HUGEINT) * t END) AS qtt0,
         |    SUM(CASE WHEN h = 1 THEN CAST(t AS HUGEINT) * y END) AS qty1,
         |    SUM(CASE WHEN h = 0 THEN CAST(t AS HUGEINT) * y END) AS qty0,
         |    SUM(CASE WHEN h = 1 THEN CAST(y AS HUGEINT) * y END) AS qyy1,
         |    SUM(CASE WHEN h = 0 THEN CAST(y AS HUGEINT) * y END) AS qyy0
         |  FROM hh GROUP BY symbol HAVING COUNT(*) >= 40),
         |s AS (SELECT symbol, n, c1, c0,
         |    (CAST(qyy1 AS DOUBLE) - CAST(sy1 AS DOUBLE) * CAST(sy1 AS DOUBLE) / CAST(c1 AS DOUBLE))
         |      - (CAST(qty1 AS DOUBLE) - CAST(st1 AS DOUBLE) * CAST(sy1 AS DOUBLE) / CAST(c1 AS DOUBLE))
         |        * (CAST(qty1 AS DOUBLE) - CAST(st1 AS DOUBLE) * CAST(sy1 AS DOUBLE) / CAST(c1 AS DOUBLE))
         |        / NULLIF(CAST(qtt1 AS DOUBLE) - CAST(st1 AS DOUBLE) * CAST(st1 AS DOUBLE) / CAST(c1 AS DOUBLE), 0) AS ssr1,
         |    (CAST(qyy0 AS DOUBLE) - CAST(sy0 AS DOUBLE) * CAST(sy0 AS DOUBLE) / CAST(c0 AS DOUBLE))
         |      - (CAST(qty0 AS DOUBLE) - CAST(st0 AS DOUBLE) * CAST(sy0 AS DOUBLE) / CAST(c0 AS DOUBLE))
         |        * (CAST(qty0 AS DOUBLE) - CAST(st0 AS DOUBLE) * CAST(sy0 AS DOUBLE) / CAST(c0 AS DOUBLE))
         |        / NULLIF(CAST(qtt0 AS DOUBLE) - CAST(st0 AS DOUBLE) * CAST(st0 AS DOUBLE) / CAST(c0 AS DOUBLE), 0) AS ssr2,
         |    (CAST(qyy1 + qyy0 AS DOUBLE) - CAST(sy1 + sy0 AS DOUBLE) * CAST(sy1 + sy0 AS DOUBLE) / CAST(n AS DOUBLE))
         |      - (CAST(qty1 + qty0 AS DOUBLE) - CAST(st1 + st0 AS DOUBLE) * CAST(sy1 + sy0 AS DOUBLE) / CAST(n AS DOUBLE))
         |        * (CAST(qty1 + qty0 AS DOUBLE) - CAST(st1 + st0 AS DOUBLE) * CAST(sy1 + sy0 AS DOUBLE) / CAST(n AS DOUBLE))
         |        / NULLIF(CAST(qtt1 + qtt0 AS DOUBLE) - CAST(st1 + st0 AS DOUBLE) * CAST(st1 + st0 AS DOUBLE) / CAST(n AS DOUBLE), 0) AS ssrp
         |  FROM g),
         |f AS (SELECT symbol, n, c1, c0,
         |    ((ssrp - ssr1 - ssr2) / 2.0) / NULLIF((ssr1 + ssr2) / (CAST(n AS DOUBLE) - 4.0), 0) AS f
         |  FROM s)
         |SELECT symbol, n AS n_days, c1 AS n_pre, c0 AS n_post,
         |  ${rd("f", 4)} AS f_stat, f > 2.9957 AS break_sig
         |FROM f ORDER BY symbol""".stripMargin,

    // mirrors Graph.clusteringCoefficient over the q_triangles edge
    // construction: full node set, 2T/(d(d-1)), NULL under degree 2
    "q_clustering_coef" ->
      s"""WITH raw AS (
         |  SELECT u, v FROM (
         |    SELECT a.l_partkey AS u, b.l_partkey AS v, COUNT(*) AS n
         |    FROM lineitem a JOIN lineitem b
         |      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
         |    GROUP BY a.l_partkey, b.l_partkey)
         |  WHERE n >= 2),
         |und AS (SELECT DISTINCT LEAST(u, v) AS u, GREATEST(u, v) AS v FROM raw),
         |deg AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS degree
         |  FROM (SELECT u AS id FROM und UNION ALL SELECT v AS id FROM und) GROUP BY id),
         |o AS (
         |  SELECT CASE WHEN d1.degree < d2.degree OR (d1.degree = d2.degree AND und.u < und.v)
         |              THEN und.u ELSE und.v END AS a,
         |         CASE WHEN d1.degree < d2.degree OR (d1.degree = d2.degree AND und.u < und.v)
         |              THEN und.v ELSE und.u END AS b
         |  FROM und JOIN deg d1 ON und.u = d1.id JOIN deg d2 ON und.v = d2.id),
         |tri AS (
         |  SELECT e1.a AS a, e1.b AS b, e2.b AS c
         |  FROM o e1 JOIN o e2 ON e1.a = e2.a AND e1.b <> e2.b
         |  WHERE EXISTS (SELECT 1 FROM o o3 WHERE o3.a = e1.b AND o3.b = e2.b)),
         |tv AS (SELECT unnest([a, b, c]) AS id FROM tri),
         |tc AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS triangles FROM tv GROUP BY id)
         |SELECT d.id, d.degree,
         |  CAST(COALESCE(tc.triangles, 0) AS BIGINT) AS triangles,
         |  ${rd("2.0 * CAST(COALESCE(tc.triangles, 0) AS DOUBLE) / NULLIF(CAST(d.degree * (d.degree - 1) AS DOUBLE), 0)", 4)} AS clustering_coef
         |FROM deg d LEFT JOIN tc ON d.id = tc.id
         |ORDER BY d.id""".stripMargin,

    // mirrors TextAnalysis.pmiCollocations: adjacent bigrams by
    // zip/range, exact totals, ln tree, top-50 by (pmi desc, w1, w2)
    "q_pmi_collocations" ->
      s"""WITH toks AS (SELECT string_split(text, ' ') AS tk FROM documents),
         |uni AS (SELECT t AS w, CAST(COUNT(*) AS BIGINT) AS cw
         |  FROM (SELECT unnest(tk) AS t FROM toks) GROUP BY t),
         |bg0 AS (SELECT unnest(list_transform(range(1, len(tk)),
         |    i -> {'w1': tk[i], 'w2': tk[i + 1]})) AS u FROM toks),
         |bi AS (SELECT u.w1 AS w1, u.w2 AS w2, CAST(COUNT(*) AS BIGINT) AS cab
         |  FROM bg0 GROUP BY u.w1, u.w2),
         |nb AS (SELECT CAST(SUM(cab) AS BIGINT) AS n_bi FROM bi),
         |nu AS (SELECT CAST(SUM(cw) AS BIGINT) AS n_uni FROM uni),
         |scd AS (SELECT b.w1, b.w2, b.cab,
         |    ${rd("ln(CAST(b.cab AS DOUBLE) / CAST(nb.n_bi AS DOUBLE)) - ln(CAST(u1.cw AS DOUBLE) / CAST(nu.n_uni AS DOUBLE)) - ln(CAST(u2.cw AS DOUBLE) / CAST(nu.n_uni AS DOUBLE))", 4)} AS pmi
         |  FROM bi b
         |  JOIN uni u1 ON u1.w = b.w1
         |  JOIN uni u2 ON u2.w = b.w2
         |  CROSS JOIN nb CROSS JOIN nu
         |  WHERE b.cab >= 5),
         |rk AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY pmi DESC, w1, w2) AS INTEGER) AS rank,
         |    w1, w2, cab, pmi
         |  FROM scd)
         |SELECT rank, w1, w2, cab AS n_pair, pmi
         |FROM rk WHERE rank <= 50 ORDER BY rank""".stripMargin,

    "q_bh_fdr" ->
      s"""${dailyChain("returns")},
         |mom AS (
         |  SELECT symbol, CAST(COUNT(*) AS BIGINT) AS n_days,
         |    CAST(SUM(${sc4("daily_return_pct")}) AS BIGINT) AS sy,
         |    SUM(CAST(${sc4("daily_return_pct")} AS HUGEINT) * ${sc4("daily_return_pct")}) AS syy
         |  FROM returns WHERE daily_return_pct IS NOT NULL
         |  GROUP BY symbol HAVING COUNT(*) >= 30
         |),
         |zz AS (
         |  SELECT symbol, n_days,
         |    (CAST(sy AS DOUBLE) / n_days) / NULLIF(
         |      sqrt(CAST(n_days * syy - CAST(sy AS HUGEINT) * sy AS DOUBLE)
         |        / (CAST(n_days AS DOUBLE) * CAST(n_days - 1 AS DOUBLE)))
         |      / sqrt(CAST(n_days AS DOUBLE)), 0) AS z
         |  FROM mom
         |),
         |pp AS (
         |  SELECT symbol, n_days, z,
         |    1.0 / (1.0 + CAST('0.2316419' AS DOUBLE) * abs(z)) AS t
         |  FROM zz
         |),
         |pv AS (
         |  SELECT symbol, n_days, z,
         |    ${rd("""2.0 * CAST('0.3989422804014327' AS DOUBLE) * exp(-0.5 * abs(z) * abs(z))
         |      * (t * (CAST('0.31938153' AS DOUBLE) + t * (CAST('-0.356563782' AS DOUBLE)
         |        + t * (CAST('1.781477937' AS DOUBLE) + t * (CAST('-1.821255978' AS DOUBLE)
         |        + t * CAST('1.330274429' AS DOUBLE))))))""", 6)} AS p_value
         |  FROM pp
         |),
         |rk AS (
         |  SELECT symbol, n_days, z, p_value,
         |    CAST(ROW_NUMBER() OVER (ORDER BY p_value, symbol) AS BIGINT) AS p_rank,
         |    CAST(COUNT(*) OVER () AS BIGINT) AS m_tests
         |  FROM pv WHERE p_value IS NOT NULL
         |),
         |fl AS (
         |  SELECT *, MAX(CASE WHEN p_value <= CAST('0.05' AS DOUBLE) * p_rank / m_tests
         |    THEN p_rank END) OVER () AS k_max
         |  FROM rk
         |)
         |SELECT symbol, n_days, ${rd("z", 4)} AS z_stat, p_value, p_rank, m_tests,
         |  COALESCE(p_rank <= k_max, false) AS rejected
         |FROM fl ORDER BY symbol""".stripMargin,

    "q_mann_whitney" ->
      s"""${dailyChain("returns")},
         |r AS (
         |  SELECT symbol, trade_date, ${sc4("daily_return_pct")} AS y
         |  FROM returns WHERE daily_return_pct IS NOT NULL
         |),
         |ranked AS (
         |  SELECT symbol, y,
         |    ROW_NUMBER() OVER (PARTITION BY symbol ORDER BY trade_date) AS day_idx,
         |    COUNT(*) OVER (PARTITION BY symbol) AS n_all,
         |    RANK() OVER (PARTITION BY symbol ORDER BY y) AS rnk,
         |    COUNT(*) OVER (PARTITION BY symbol, y) AS ties
         |  FROM r
         |),
         |g AS (
         |  SELECT symbol,
         |    CAST(SUM(CASE WHEN day_idx * 2 <= n_all THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         |    CAST(SUM(CASE WHEN day_idx * 2 <= n_all THEN 0 ELSE 1 END) AS BIGINT) AS n2,
         |    CAST(SUM(CASE WHEN day_idx * 2 <= n_all
         |                  THEN 2 * rnk + ties - 1 ELSE 0 END) AS BIGINT) AS r1x2
         |  FROM ranked GROUP BY symbol
         |),
         |tt AS (
         |  SELECT symbol, CAST(SUM(t * t * t - t) AS BIGINT) AS tie3 FROM (
         |    SELECT symbol, y, CAST(COUNT(*) AS BIGINT) AS t
         |    FROM r GROUP BY symbol, y)
         |  GROUP BY symbol
         |),
         |m AS (
         |  SELECT g.symbol, n1, n2, n1 + n2 AS n,
         |    r1x2 - n1 * (n1 + 1) AS u2, tie3
         |  FROM g JOIN tt ON g.symbol = tt.symbol
         |  WHERE n1 + n2 >= 30 AND n1 > 0 AND n2 > 0
         |)
         |SELECT symbol, n1, n2, u2,
         |  ${rd("CAST(u2 AS DOUBLE) / (2.0 * CAST(n1 * n2 AS DOUBLE))", 4)} AS auc,
         |  ${rd("""CAST(u2 - n1 * n2 AS DOUBLE) /
         |    NULLIF(2.0 * sqrt(CAST(n1 * n2 AS DOUBLE) / 3.0 *
         |      (CAST(n + 1 AS DOUBLE) - CAST(tie3 AS DOUBLE) /
         |        (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)))), 0)""", 4)} AS z
         |FROM m ORDER BY symbol""".stripMargin,

    // mirrors Profiling.lorenzCurve(10): the NTILE form (tested equal
    // to the closed-form distributed tiles), top-down cumulative share
    "q_lorenz" ->
      s"""WITH spend AS (
         |  SELECT o_custkey, CAST(SUM(${sc("o_totalprice", 2)}) AS BIGINT) AS total
         |  FROM orders GROUP BY o_custkey),
         |t AS (SELECT total,
         |  CAST(NTILE(10) OVER (ORDER BY total DESC, o_custkey ASC) AS INTEGER) AS tier
         |  FROM spend),
         |g AS (
         |  SELECT tier, CAST(COUNT(*) AS BIGINT) AS n_keys,
         |    CAST(SUM(total) AS BIGINT) AS tier_cents
         |  FROM t GROUP BY tier
         |)
         |SELECT tier, n_keys, tier_cents,
         |  CAST(SUM(tier_cents) OVER (ORDER BY tier
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_cents,
         |  ${rd("CAST(SUM(tier_cents) OVER (ORDER BY tier ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) / (SUM(tier_cents) OVER ())", 4)} AS cum_share
         |FROM g ORDER BY tier""".stripMargin,

    // mirrors qGini/Profiling.giniConcentration: ascending rank form
    // of the Lorenz area, exact HUGEINT moments, one final division
    "q_gini" ->
      s"""WITH rev AS (
         |  SELECT o_custkey, CAST(SUM(${sc("o_totalprice", 2)}) AS BIGINT) AS x
         |  FROM orders GROUP BY o_custkey
         |),
         |j AS (
         |  SELECT n.n_name AS nation, r.o_custkey AS k, r.x
         |  FROM rev r
         |  JOIN customer c ON r.o_custkey = c.c_custkey
         |  JOIN nation n ON c.c_nationkey = n.n_nationkey
         |),
         |rk AS (
         |  SELECT nation, x,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY nation ORDER BY x, k) AS BIGINT) AS i
         |  FROM j
         |),
         |g AS (
         |  SELECT nation, CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(SUM(x) AS BIGINT) AS sx,
         |    SUM(CAST(i AS HUGEINT) * CAST(x AS HUGEINT)) AS six
         |  FROM rk GROUP BY nation
         |)
         |SELECT nation, n AS n_keys, sx AS total_cents,
         |  ${rd("CAST(2 * six - CAST(n + 1 AS HUGEINT) * sx AS DOUBLE) / CAST(CAST(n AS HUGEINT) * sx AS DOUBLE)", 4)} AS gini
         |FROM g ORDER BY nation""".stripMargin,

    // mirrors Profiling.dpGroupCounts(lang, eps=0.5): geometric draws
    // are integer threshold counts against the SAME literal longs
    // (transcendentals ran once in Scala); uniforms are salted h60 of
    // the group key — the mechanism is pure integer arithmetic here
    "q_dp_counts" -> {
      val thr = graft.operators.Profiling.geometricThresholds(0.5)
        .mkString("[", ", ", "]")
      def geom(salt: String) =
        s"CAST(len(list_filter($thr, t -> ${h60(s"'$salt' || lang")} < t)) AS BIGINT)"
      s"""WITH g AS (
         |  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_exact FROM documents GROUP BY lang
         |)
         |SELECT lang, n_exact,
         |  ${geom("dp1:")} - ${geom("dp2:")} AS noise,
         |  n_exact + ${geom("dp1:")} - ${geom("dp2:")} AS n_dp
         |FROM g ORDER BY lang""".stripMargin
    },

    // mirrors Profiling.benfordDigits over o_totalprice: digits from
    // the exact cent LONG's decimal string (double formatting differs
    // across engines), expectation literals string-cast via dlist
    "q_benford" -> {
      val expected = dlist(graft.operators.Profiling.benfordExpected)
      s"""WITH d AS (
         |  SELECT CAST(SUBSTR(CAST(${sc("o_totalprice", 2)} AS VARCHAR), 1, 1) AS INTEGER) AS digit
         |  FROM orders WHERE ${sc("o_totalprice", 2)} > 0
         |),
         |g AS (SELECT digit, CAST(COUNT(*) AS BIGINT) AS n FROM d GROUP BY digit),
         |t AS (SELECT digit, n, CAST(SUM(n) OVER () AS BIGINT) AS total FROM g)
         |SELECT digit, n,
         |  ${rd("CAST(n AS DOUBLE) / total", 4)} AS frac,
         |  ${rd(s"$expected[digit]", 4)} AS expected,
         |  ${rd(s"CAST(n AS DOUBLE) / total - $expected[digit]", 4)} AS gap
         |FROM t ORDER BY digit""".stripMargin
    },

    // mirrors Profiling.kAnonymity over (lang, source): one class-size
    // CTE re-aggregated per k
    "q_k_anonymity" -> {
      val perK = Seq(2, 5, 10, 20).map { k =>
        s"""SELECT CAST($k AS INTEGER) AS k,
           |  CAST(COUNT(*) AS BIGINT) AS n_classes,
           |  CAST(SUM(CASE WHEN cnt < $k THEN 1 ELSE 0 END) AS BIGINT) AS n_violating_classes,
           |  CAST(SUM(CASE WHEN cnt < $k THEN cnt ELSE 0 END) AS BIGINT) AS n_violating_rows,
           |  ${rd(s"SUM(CASE WHEN cnt < $k THEN cnt ELSE 0 END) / CAST(SUM(cnt) AS DOUBLE)", 4)} AS violating_frac
           |FROM cls""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH cls AS (
         |  SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS cnt
         |  FROM documents GROUP BY lang, source
         |)
         |$perK
         |ORDER BY k""".stripMargin
    },

    // mirrors Profiling.lDiversity with the n_chars // 100 length band
    // as the sensitive attribute
    "q_l_diversity" ->
      s"""WITH cls AS (
         |  SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS cnt,
         |    CAST(COUNT(DISTINCT n_chars // 100) AS BIGINT) AS l
         |  FROM documents GROUP BY lang, source
         |)
         |SELECT CAST(COUNT(*) AS BIGINT) AS n_classes,
         |  CAST(MIN(l) AS BIGINT) AS min_diversity,
         |  CAST(SUM(CASE WHEN l = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_homogeneous,
         |  CAST(SUM(CASE WHEN l = 1 THEN cnt ELSE 0 END) AS BIGINT) AS n_exposed_rows,
         |  ${rd("SUM(CASE WHEN l = 1 THEN cnt ELSE 0 END) / CAST(SUM(cnt) AS DOUBLE)", 4)} AS exposed_frac
         |FROM cls""".stripMargin,

    "q_column_profile" -> {
      val cols = Seq("o_custkey", "o_orderstatus", "o_orderpriority", "o_orderdate")
      cols.map { c =>
        s"""SELECT '$c' AS "column", CAST(COUNT(*) AS BIGINT) AS n_rows,
           |  CAST(COUNT(*) - COUNT($c) AS BIGINT) AS n_nulls,
           |  CAST(COUNT(DISTINCT $c) AS BIGINT) AS n_distinct
           |FROM orders""".stripMargin
      }.mkString("", "\nUNION ALL\n", "\nORDER BY \"column\"")
    },

    // Threshold sweep (mirrors Profiling.thresholdSweep over char
    // length: per-threshold survivors via a bounded literal join,
    // all-integer keeps, one final division per fraction)
    "q_threshold_sweep" ->
      s"""WITH d AS (
         |  SELECT CAST(length(text) AS BIGINT) AS sc,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS tk
         |  FROM documents
         |),
         |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS td, CAST(SUM(tk) AS BIGINT) AS tt FROM d),
         |th AS (SELECT CAST(unnest([0, 50, 100, 200, 400]) AS BIGINT) AS threshold),
         |k AS (
         |  SELECT th.threshold,
         |    CAST(COUNT(d.sc) AS BIGINT) AS docs_kept,
         |    CAST(COALESCE(SUM(d.tk), 0) AS BIGINT) AS tokens_kept
         |  FROM th LEFT JOIN d ON d.sc >= th.threshold
         |  GROUP BY th.threshold
         |)
         |SELECT threshold, docs_kept, tokens_kept,
         |  ${rd("docs_kept / CAST(td AS DOUBLE)", 4)} AS doc_frac,
         |  ${rd("tokens_kept / CAST(tt AS DOUBLE)", 4)} AS token_frac
         |FROM k, tot ORDER BY threshold""".stripMargin,

    // Temperature mixing (mirrors Sampling.temperatureMixture at
    // α=0.5, target=300: per-source cut = ⌊min(1, T·√n/Σ√n/n)·10⁴⌋,
    // weight sum folded in sorted-source order — same IEEE sequence
    // as the driver's foldLeft: list_reduce seeds with element 1 and
    // 0.0 + w ≡ w exactly)
    "q_temperature_mixture" ->
      s"""WITH ns AS (
         |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM documents
         |  GROUP BY source
         |),
         |w AS (SELECT source, n, SQRT(CAST(n AS DOUBLE)) AS w FROM ns),
         |ws AS (
         |  SELECT list_reduce(list(w ORDER BY source), (a, b) -> a + b) AS wsum
         |  FROM w
         |),
         |th AS (
         |  SELECT source,
         |    CAST(FLOOR(LEAST(1.0, CAST(300 AS DOUBLE) * w / wsum / n) * 10000)
         |      AS BIGINT) AS t
         |  FROM w CROSS JOIN ws
         |)
         |SELECT d.doc_id, d.source
         |FROM documents d JOIN th ON d.source = th.source
         |WHERE ${h60("CAST(doc_id AS VARCHAR)")} % 10000 < th.t
         |ORDER BY d.doc_id""".stripMargin,

    // Weighted hash sampling (mirrors Sampling.weightedByHash:
    // keep iff hash60(id) mod maxWeight < weight, pure integers)
    "q_weighted_sample" ->
      s"""SELECT doc_id, n_chars FROM documents
         |WHERE ${h60("CAST(doc_id AS VARCHAR)")} % 400 < LEAST(n_chars, 400)
         |ORDER BY doc_id""".stripMargin,

    // Per-source token-budget cap (mirrors Sampling.capPerKeyTokens:
    // hash-ordered running sum, admit while cumsum − tokens < budget)
    "q_token_budget" ->
      s"""WITH ranked AS (
         |  SELECT source, doc_id, n_chars,
         |    CAST(SUM(n_chars) OVER (
         |      PARTITION BY source
         |      ORDER BY ${h60("CAST(doc_id AS VARCHAR)")}, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
         |  FROM documents
         |)
         |SELECT source, doc_id, n_chars, cum_tokens FROM ranked
         |WHERE cum_tokens - n_chars < 5000
         |ORDER BY source, doc_id""".stripMargin,

    // Deterministic random projection (mirrors Similarity.randomProject:
    // the same md5-derived plane literals, exact integer dots)
    "q_random_projection" -> {
      val planes = graft.operators.Similarity.planeComponents(16)
      val exprs = (0 until 16).map { p =>
        val w = planes.slice(p * 64, (p + 1) * 64).mkString("[", ", ", "]")
        s"CAST(list_sum(list_transform(range(1, 65), k -> vq[k] * ($w)[k])) AS BIGINT)"
      }.mkString(",\n         |  ").stripMargin
      s"""WITH $embSql,
         |pr AS (SELECT vec_id AS id, [$exprs] AS proj FROM ev),
         |u AS (SELECT id, proj, unnest(range(1, len(proj) + 1)) AS j FROM pr)
         |SELECT id, CAST(j - 1 AS INTEGER) AS k, proj[j] AS v
         |FROM u ORDER BY id, k""".stripMargin
    },

    // Hourly rate-spike detection (mirrors Profiling.rateAnomaly: the
    // n − mean > 3σ test rewritten to exact integer arithmetic)
    "q_rate_anomaly" ->
      s"""WITH hourly AS (
         |  SELECT event_type, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h,
         |    CAST(COUNT(*) AS BIGINT) AS n
         |  FROM events
         |  GROUP BY event_type, date_trunc('hour', CAST(ts AS TIMESTAMP))
         |),
         |win AS (
         |  SELECT event_type, h, n,
         |    CAST(COUNT(n) OVER w AS BIGINT) AS c,
         |    CAST(SUM(n) OVER w AS BIGINT) AS sx,
         |    CAST(SUM(n * n) OVER w AS BIGINT) AS sxx
         |  FROM hourly
         |  WINDOW w AS (PARTITION BY event_type ORDER BY h
         |    ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
         |)
         |SELECT event_type, h, n,
         |  ${rd("sx / CAST(c AS DOUBLE)", 4)} AS baseline_mean,
         |  ((n * c - sx) > 0 AND (n * c - sx) * (n * c - sx) > 9 * (c * sxx - sx * sx)) AS is_spike
         |FROM win WHERE c = 24 ORDER BY event_type, h""".stripMargin,

    // Strict sequential funnel (mirrors Cohorts.funnel: min-after
    // chaining per user — step i's earliest event after step i-1)
    "q_funnel" ->
      """WITH ev AS (
        |  SELECT user_id, event_type AS et, CAST(ts AS TIMESTAMP) AS ts FROM events
        |),
        |s1 AS (
        |  SELECT user_id, MIN(ts) AS t FROM ev WHERE et = 'view' GROUP BY user_id
        |),
        |s2 AS (
        |  SELECT e.user_id, MIN(e.ts) AS t
        |  FROM ev e JOIN s1 ON e.user_id = s1.user_id AND e.ts > s1.t
        |  WHERE e.et = 'click' GROUP BY e.user_id
        |),
        |s3 AS (
        |  SELECT e.user_id, MIN(e.ts) AS t
        |  FROM ev e JOIN s2 ON e.user_id = s2.user_id AND e.ts > s2.t
        |  WHERE e.et = 'purchase' GROUP BY e.user_id
        |)
        |SELECT * FROM (
        |  SELECT CAST(1 AS INTEGER) AS step, 'view' AS step_name,
        |    CAST((SELECT COUNT(*) FROM s1) AS BIGINT) AS n_users
        |  UNION ALL
        |  SELECT CAST(2 AS INTEGER), 'click', CAST((SELECT COUNT(*) FROM s2) AS BIGINT)
        |  UNION ALL
        |  SELECT CAST(3 AS INTEGER), 'purchase', CAST((SELECT COUNT(*) FROM s3) AS BIGINT)
        |) ORDER BY step""".stripMargin,

    // Funnel with a 48h conversion window per step (mirrors
    // Cohorts.funnelWithin: min-after AND within-gap chaining)
    "q_funnel_windowed" ->
      """WITH ev AS (
        |  SELECT user_id, event_type AS et, CAST(ts AS TIMESTAMP) AS ts FROM events
        |),
        |s1 AS (
        |  SELECT user_id, MIN(ts) AS t FROM ev WHERE et = 'view' GROUP BY user_id
        |),
        |s2 AS (
        |  SELECT e.user_id, MIN(e.ts) AS t
        |  FROM ev e JOIN s1 ON e.user_id = s1.user_id
        |    AND e.ts > s1.t AND e.ts <= s1.t + INTERVAL 48 HOUR
        |  WHERE e.et = 'click' GROUP BY e.user_id
        |),
        |s3 AS (
        |  SELECT e.user_id, MIN(e.ts) AS t
        |  FROM ev e JOIN s2 ON e.user_id = s2.user_id
        |    AND e.ts > s2.t AND e.ts <= s2.t + INTERVAL 48 HOUR
        |  WHERE e.et = 'purchase' GROUP BY e.user_id
        |)
        |SELECT * FROM (
        |  SELECT CAST(1 AS INTEGER) AS step, 'view' AS step_name,
        |    CAST((SELECT COUNT(*) FROM s1) AS BIGINT) AS n_users
        |  UNION ALL
        |  SELECT CAST(2 AS INTEGER), 'click', CAST((SELECT COUNT(*) FROM s2) AS BIGINT)
        |  UNION ALL
        |  SELECT CAST(3 AS INTEGER), 'purchase', CAST((SELECT COUNT(*) FROM s3) AS BIGINT)
        |) ORDER BY step""".stripMargin,

    // 7-day cohort retention (mirrors Cohorts.cohortRetention: distinct
    // user-day grain, semi join on the shifted day, integer counts)
    "q_retention" ->
      s"""WITH act AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
         |fut AS (SELECT user_id, d - 7 AS d FROM act),
         |ret AS (
         |  SELECT a.d, CAST(COUNT(*) AS BIGINT) AS n_retained
         |  FROM act a JOIN fut f ON a.user_id = f.user_id AND a.d = f.d
         |  GROUP BY a.d
         |),
         |base AS (SELECT d, CAST(COUNT(*) AS BIGINT) AS n_active FROM act GROUP BY d)
         |SELECT b.d AS cohort_date, b.n_active,
         |  COALESCE(r.n_retained, CAST(0 AS BIGINT)) AS n_retained,
         |  ${rd("COALESCE(r.n_retained, 0) / CAST(b.n_active AS DOUBLE)", 4)} AS retention_rate
         |FROM base b LEFT JOIN ret r ON b.d = r.d
         |ORDER BY cohort_date""".stripMargin,

    // mirrors qAttribution: latest prior view per purchase (ties ->
    // min view_id, matching the keepFirst dedup), 7-day lookback
    // null-out, all arithmetic in exact epoch microseconds
    "q_attribution" ->
      """WITH p AS (
        |  SELECT user_id, event_id AS purchase_id, epoch_us(ts) AS pus
        |  FROM events WHERE event_type = 'purchase'
        |),
        |v AS (
        |  SELECT user_id, view_id, vus FROM (
        |    SELECT user_id, event_id AS view_id, epoch_us(ts) AS vus,
        |      ROW_NUMBER() OVER (PARTITION BY user_id, epoch_us(ts)
        |        ORDER BY event_id) AS dd
        |    FROM events WHERE event_type = 'view') WHERE dd = 1
        |),
        |j AS (
        |  SELECT purchase_id, view_id, vus FROM (
        |    SELECT p.purchase_id, v.view_id, v.vus,
        |      ROW_NUMBER() OVER (PARTITION BY p.purchase_id
        |        ORDER BY v.vus DESC, v.view_id ASC) AS rn
        |    FROM p JOIN v ON p.user_id = v.user_id AND v.vus <= p.pus)
        |  WHERE rn = 1
        |)
        |SELECT p.purchase_id, p.user_id, p.pus AS purchase_us,
        |  CASE WHEN j.vus >= p.pus - 604800000000 THEN j.view_id END AS attributed_view_id,
        |  CASE WHEN j.vus >= p.pus - 604800000000 THEN (p.pus - j.vus) // 60000000 END AS gap_minutes
        |FROM p LEFT JOIN j ON p.purchase_id = j.purchase_id
        |ORDER BY p.purchase_id""".stripMargin,

    // mirrors Cohorts.minimumDetectableEffect: post-period cents per
    // user, pooled exact moments, the z constant as the same literal
    "q_mde" -> {
      val z = (1.959963984540054 + 0.8416212335729143).toString
      s"""WITH b AS (
         |  SELECT MIN(CAST(ts AS DATE)) AS dmin, MAX(CAST(ts AS DATE)) AS dmax
         |  FROM events
         |),
         |pu AS (
         |  SELECT user_id, CAST(user_id % 2 AS INTEGER) AS variant,
         |    CAST(SUM(CASE WHEN event_type = 'purchase'
         |      AND CAST(ts AS DATE) >= dmin + CAST(FLOOR((dmax - dmin) / 2) AS INTEGER)
         |      THEN ${sc("value", 2)} ELSE 0 END) AS BIGINT) AS y
         |  FROM events, b GROUP BY user_id
         |),
         |m AS (
         |  SELECT
         |    CAST(SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
         |    CAST(SUM(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         |    CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(SUM(y) AS BIGINT) AS s,
         |    SUM(CAST(y AS HUGEINT) * y) AS ss
         |  FROM pu
         |),
         |v AS (
         |  SELECT *,
         |    CAST(n * ss - CAST(s AS HUGEINT) * s AS DOUBLE)
         |      / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)) AS varp,
         |    CAST(s AS DOUBLE) / n AS meanp
         |  FROM m
         |)
         |SELECT n0, n1,
         |  ${rd("sqrt(varp) / 100.0", 4)} AS pooled_sd,
         |  ${rd("meanp / 100.0", 4)} AS mean_rev,
         |  ${rd(s"CAST('$z' AS DOUBLE) * sqrt(varp / n0 + varp / n1) / 100.0", 4)} AS mde_abs,
         |  ${rd(s"CAST('$z' AS DOUBLE) * sqrt(varp / n0 + varp / n1) / meanp", 4)} AS mde_rel
         |FROM v""".stripMargin
    },

    // mirrors Cohorts.covariateBalance: pre-period cents per user,
    // exact HUGEINT moments, pooled-SD SMD, |SMD| < 0.1 bar
    "q_covariate_balance" ->
      s"""WITH b AS (
         |  SELECT MIN(CAST(ts AS DATE)) AS dmin, MAX(CAST(ts AS DATE)) AS dmax
         |  FROM events
         |),
         |pu AS (
         |  SELECT user_id, CAST(user_id % 2 AS INTEGER) AS variant,
         |    CAST(SUM(CASE WHEN event_type = 'purchase'
         |      AND CAST(ts AS DATE) < dmin + CAST(FLOOR((dmax - dmin) / 2) AS INTEGER)
         |      THEN ${sc("value", 2)} ELSE 0 END) AS BIGINT) AS x
         |  FROM events, b GROUP BY user_id
         |),
         |m AS (
         |  SELECT
         |    CAST(SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
         |    CAST(SUM(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         |    CAST(SUM(CASE WHEN variant = 0 THEN x ELSE 0 END) AS BIGINT) AS s0,
         |    CAST(SUM(CASE WHEN variant = 1 THEN x ELSE 0 END) AS BIGINT) AS s1,
         |    SUM(CASE WHEN variant = 0 THEN CAST(x AS HUGEINT) * x ELSE 0 END) AS ss0,
         |    SUM(CASE WHEN variant = 1 THEN CAST(x AS HUGEINT) * x ELSE 0 END) AS ss1
         |  FROM pu
         |),
         |v AS (
         |  SELECT *,
         |    CAST(n0 * ss0 - CAST(s0 AS HUGEINT) * s0 AS DOUBLE)
         |      / (CAST(n0 AS DOUBLE) * CAST(n0 - 1 AS DOUBLE)) AS v0,
         |    CAST(n1 * ss1 - CAST(s1 AS HUGEINT) * s1 AS DOUBLE)
         |      / (CAST(n1 AS DOUBLE) * CAST(n1 - 1 AS DOUBLE)) AS v1,
         |    CAST(s0 AS DOUBLE) / n0 - CAST(s1 AS DOUBLE) / n1 AS md
         |  FROM m
         |)
         |SELECT n0, n1,
         |  ${rd("CAST(s0 AS DOUBLE) / n0 / 100.0", 4)} AS mean_0,
         |  ${rd("CAST(s1 AS DOUBLE) / n1 / 100.0", 4)} AS mean_1,
         |  ${rd("md / sqrt((v0 + v1) / 2.0)", 4)} AS smd,
         |  (ABS(md / sqrt((v0 + v1) / 2.0)) < 0.1) AS balanced
         |FROM v""".stripMargin,

    // mirrors Profiling.activityHeatmap: dow (Spark convention =
    // DuckDB dayofweek + 1) x hour cells with traffic shares
    "q_activity_heatmap" ->
      s"""WITH g AS (
         |  SELECT CAST(dayofweek(CAST(ts AS DATE)) + 1 AS INTEGER) AS dow,
         |    CAST(hour(ts) AS INTEGER) AS hour,
         |    CAST(COUNT(*) AS BIGINT) AS n
         |  FROM events GROUP BY 1, 2
         |)
         |SELECT dow, hour, n,
         |  ${rd("CAST(n AS DOUBLE) / (SUM(n) OVER ())", 4)} AS frac
         |FROM g ORDER BY dow, hour""".stripMargin,

    // mirrors Profiling.fanoFactor: daily counts per type, exact
    // integer dispersion (n*Scc - S^2)/((n-1)*S)
    "q_fano_factor" ->
      s"""WITH daily AS (
         |  SELECT event_type, CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS c
         |  FROM events GROUP BY event_type, CAST(ts AS DATE)
         |),
         |g AS (
         |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
         |    CAST(SUM(c) AS BIGINT) AS n_events,
         |    CAST(SUM(c * c) AS BIGINT) AS scc
         |  FROM daily GROUP BY event_type
         |)
         |SELECT event_type, n_days, n_events,
         |  ${rd("CAST(n_events AS DOUBLE) / n_days", 4)} AS mean_per_day,
         |  ${rd("CAST(n_days * scc - n_events * n_events AS DOUBLE) / CAST((n_days - 1) * n_events AS DOUBLE)", 4)} AS fano
         |FROM g WHERE n_days > 1 ORDER BY event_type""".stripMargin,

    // mirrors Cohorts.eventPaths(gap=30min, k=10): inactivity-cut
    // sessions, lead() successor inside the session, exact epoch-us
    // gaps, (n DESC, pair ASC) rank
    "q_event_paths" ->
      """WITH e AS (
        |  SELECT user_id, event_id, event_type, epoch_us(ts) AS us
        |  FROM events
        |),
        |s AS (
        |  SELECT *, SUM(new_s) OVER (PARTITION BY user_id
        |    ORDER BY us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
        |  FROM (
        |    SELECT *, CASE WHEN us - LAG(us) OVER (PARTITION BY user_id
        |      ORDER BY us, event_id) > 1800000000 THEN 1 ELSE 0 END AS new_s
        |    FROM e)
        |),
        |tr AS (
        |  SELECT event_type AS from_type,
        |    LEAD(event_type) OVER (PARTITION BY user_id, sess
        |      ORDER BY us, event_id) AS to_type
        |  FROM s
        |),
        |g AS (
        |  SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM tr WHERE to_type IS NOT NULL GROUP BY from_type, to_type
        |)
        |SELECT from_type, to_type, n, CAST(rank AS INTEGER) AS rank FROM (
        |  SELECT *, ROW_NUMBER() OVER (ORDER BY n DESC, from_type ASC, to_type ASC) AS rank
        |  FROM g) WHERE rank <= 10
        |ORDER BY rank""".stripMargin,

    // mirrors Cohorts.churnHazard(censorDays=7): user-grain first/last
    // activity, 7-day right-censoring against the global max date,
    // reverse-cumulative risk set over the duration dimension
    "q_churn_hazard" ->
      s"""WITH per AS (
         |  SELECT user_id, MIN(CAST(ts AS DATE)) AS first_d,
         |    MAX(CAST(ts AS DATE)) AS last_d
         |  FROM events GROUP BY user_id
         |),
         |m AS (SELECT MAX(last_d) AS dmax FROM per),
         |dur AS (
         |  SELECT CAST(last_d - first_d AS INTEGER) AS duration,
         |    CASE WHEN dmax - last_d >= 7 THEN 1 ELSE 0 END AS churned
         |  FROM per, m
         |),
         |byd AS (
         |  SELECT duration, CAST(COUNT(*) AS BIGINT) AS n_ending,
         |    CAST(SUM(churned) AS BIGINT) AS n_churned
         |  FROM dur GROUP BY duration
         |)
         |SELECT duration,
         |  CAST(SUM(n_ending) OVER (ORDER BY duration DESC
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_at_risk,
         |  n_ending, n_churned,
         |  ${rd("CAST(n_churned AS DOUBLE) / (SUM(n_ending) OVER (ORDER BY duration DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))", 4)} AS hazard
         |FROM byd ORDER BY duration""".stripMargin,

    // mirrors Cohorts.sampleRatioCheck: exact two-cell chi-square
    // (n0-n1)^2/n over distinct user parity
    "q_srm_check" ->
      s"""WITH u AS (SELECT DISTINCT user_id FROM events),
         |g AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
         |    CAST(SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_v0,
         |    CAST(SUM(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_v1
         |  FROM u
         |)
         |SELECT n_users, n_v0, n_v1,
         |  ${rd("CAST(n_v0 - n_v1 AS DOUBLE) * CAST(n_v0 - n_v1 AS DOUBLE) / n_users", 4)} AS chi2,
         |  (CAST(n_v0 - n_v1 AS DOUBLE) * CAST(n_v0 - n_v1 AS DOUBLE) / n_users > 3.841) AS srm_flag
         |FROM g""".stripMargin,

    // mirrors Cohorts.cupedLift: data-derived period cutoff
    // (min + floor(span/2) days — FLOOR explicit, Spark's double→int
    // cast truncates while DuckDB's rounds), cent-scaled per-user
    // X/Y, pooled theta from exact HUGEINT moments (Spark side runs
    // the same sums in DECIMAL(38,0)), identical division trees
    "q_cuped_lift" ->
      s"""WITH b AS (
         |  SELECT MIN(CAST(ts AS DATE)) AS dmin, MAX(CAST(ts AS DATE)) AS dmax
         |  FROM events
         |),
         |pu AS (
         |  SELECT user_id,
         |    CAST(SUM(CASE WHEN event_type = 'purchase'
         |      AND CAST(ts AS DATE) < dmin + CAST(FLOOR((dmax - dmin) / 2) AS INTEGER)
         |      THEN ${sc("value", 2)} ELSE 0 END) AS BIGINT) AS x_c,
         |    CAST(SUM(CASE WHEN event_type = 'purchase'
         |      AND CAST(ts AS DATE) >= dmin + CAST(FLOOR((dmax - dmin) / 2) AS INTEGER)
         |      THEN ${sc("value", 2)} ELSE 0 END) AS BIGINT) AS y_c
         |  FROM events, b GROUP BY user_id
         |),
         |pool AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n_p,
         |    CAST(SUM(x_c) AS BIGINT) AS sx_p,
         |    CAST(SUM(y_c) AS BIGINT) AS sy_p,
         |    SUM(CAST(x_c AS HUGEINT) * CAST(y_c AS HUGEINT)) AS sxy_p,
         |    SUM(CAST(x_c AS HUGEINT) * CAST(x_c AS HUGEINT)) AS sxx_p
         |  FROM pu
         |),
         |th AS (
         |  SELECT CASE
         |      WHEN CAST(n_p * sxx_p - CAST(sx_p AS HUGEINT) * sx_p AS DOUBLE) = 0.0
         |      THEN 0.0
         |      ELSE CAST(n_p * sxy_p - CAST(sx_p AS HUGEINT) * sy_p AS DOUBLE)
         |         / CAST(n_p * sxx_p - CAST(sx_p AS HUGEINT) * sx_p AS DOUBLE) END AS theta,
         |    CAST(sx_p AS DOUBLE) / n_p AS xbar_p
         |  FROM pool
         |),
         |v AS (
         |  SELECT CAST(user_id % 2 AS INTEGER) AS variant,
         |    CAST(COUNT(*) AS BIGINT) AS n_users,
         |    CAST(SUM(x_c) AS BIGINT) AS sx_v,
         |    CAST(SUM(y_c) AS BIGINT) AS sy_v
         |  FROM pu GROUP BY 1
         |)
         |SELECT variant, n_users,
         |  ${rd("sy_v / CAST(n_users AS DOUBLE) / 100.0", 4)} AS mean_y,
         |  ${rd("theta", 6)} AS theta,
         |  ${rd("(sy_v / CAST(n_users AS DOUBLE) - theta * (sx_v / CAST(n_users AS DOUBLE) - xbar_p)) / 100.0", 4)} AS mean_y_cuped
         |FROM v, th ORDER BY variant""".stripMargin,

    "q_skew_salted" ->
      s"""SELECT l_returnflag,
         |  ${rd(s"CAST(SUM(${sc("l_extendedprice", 2)}) AS DOUBLE) / 1e2", 2)} AS revenue,
         |  CAST(COUNT(*) AS BIGINT) AS count_rows
         |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    // distinct 3-grams per doc; df >= 2 means "appears in another doc"
    "q_cross_doc_ngrams" ->
      s"""WITH $shinglesSql,
         |ex0 AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
         |ex AS (SELECT doc_id, ${h60("s")} AS shh FROM ex0),
         |dfreq AS (SELECT shh, COUNT(*) AS df FROM ex GROUP BY shh),
         |scored AS (
         |  SELECT e.doc_id,
         |    CAST(COUNT(*) AS BIGINT) AS n_ngrams,
         |    CAST(SUM(CASE WHEN d.df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS dup_ngrams
         |  FROM ex e JOIN dfreq d ON e.shh = d.shh
         |  GROUP BY e.doc_id
         |)
         |SELECT doc_id, n_ngrams, dup_ngrams,
         |  ${rd("dup_ngrams / CAST(n_ngrams AS DOUBLE)", 4)} AS dup_frac
         |FROM scored ORDER BY doc_id""".stripMargin,

    // mirrors Dedup.duplicatedSpans: positional 8-gram hashes, grams in
    // >= 2 distinct docs, interval-union coverage via LEAD differencing
    "q_dup_spans" ->
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         |base AS (SELECT doc_id, ws, len(ws) AS n FROM w),
         |g0 AS (
         |  SELECT doc_id, ws, unnest(range(0, n - 7)) AS pos FROM base WHERE n >= 8
         |),
         |g AS (
         |  SELECT doc_id, pos,
         |    ${h60("array_to_string(list_slice(ws, CAST(pos + 1 AS INTEGER), CAST(pos + 8 AS INTEGER)), ' ')")} AS gh
         |  FROM g0
         |),
         |shared AS (SELECT gh FROM g GROUP BY gh HAVING COUNT(DISTINCT doc_id) >= 2),
         |ds AS (SELECT doc_id, pos FROM g JOIN shared USING (gh)),
         |cov0 AS (
         |  SELECT doc_id,
         |    LEAST(COALESCE(LEAD(pos) OVER (PARTITION BY doc_id ORDER BY pos) - pos, 8), 8) AS c
         |  FROM ds
         |),
         |cov AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS dup_tokens FROM cov0 GROUP BY doc_id)
         |SELECT b.doc_id, CAST(b.n AS BIGINT) AS n_tokens,
         |  CAST(COALESCE(cov.dup_tokens, 0) AS BIGINT) AS dup_tokens,
         |  ${rd("COALESCE(cov.dup_tokens, 0) / CAST(b.n AS DOUBLE)", 4)} AS dup_token_frac
         |FROM base b LEFT JOIN cov ON b.doc_id = cov.doc_id
         |ORDER BY b.doc_id""".stripMargin,

    "q_source_profile" ->
      s"""WITH t AS (
         |  SELECT source, lang,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS toks,
         |    CAST(len(text) AS BIGINT) AS chars
         |  FROM documents
         |)
         |SELECT source,
         |  CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(toks) AS BIGINT) AS total_tokens,
         |  CAST(SUM(chars) AS BIGINT) AS total_chars,
         |  CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
         |  MIN(toks) AS min_tokens,
         |  MAX(toks) AS max_tokens,
         |  ${rd("SUM(toks) / CAST(COUNT(*) AS DOUBLE)", 4)} AS avg_tokens
         |FROM t GROUP BY source ORDER BY source""".stripMargin,

    "q_source_cap" -> {
      val hk = h60("CAST(doc_id AS VARCHAR)")
      s"""WITH r AS (
         |  SELECT doc_id, source,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY source ORDER BY $hk, doc_id) AS INTEGER) AS sample_rank
         |  FROM documents
         |)
         |SELECT doc_id, source, sample_rank FROM r
         |WHERE sample_rank <= 10 ORDER BY doc_id""".stripMargin
    },

    // mirrors Scd2.fromHistory: run starts by LAG inequality, validity
    // ranges by LEAD over the starts, run sizes by row-number diffs
    "q_scd2" ->
      """WITH t AS (
        |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS et, event_type FROM events
        |),
        |m AS (
        |  SELECT *, LAG(event_type) OVER w AS prev,
        |    ROW_NUMBER() OVER w AS rn,
        |    COUNT(*) OVER (PARTITION BY user_id) AS n
        |  FROM t WINDOW w AS (PARTITION BY user_id ORDER BY et, event_id)
        |),
        |s AS (SELECT * FROM m WHERE prev IS NULL OR prev != event_type),
        |v AS (
        |  SELECT user_id, event_type, et AS valid_from, rn, n,
        |    ROW_NUMBER() OVER w2 AS version,
        |    LEAD(et) OVER w2 AS valid_to,
        |    LEAD(rn) OVER w2 AS next_rn
        |  FROM s WINDOW w2 AS (PARTITION BY user_id ORDER BY et, event_id)
        |)
        |SELECT user_id, CAST(version AS INTEGER) AS version, event_type,
        |  valid_from, valid_to,
        |  CAST(COALESCE(next_rn, n + 1) - rn AS BIGINT) AS n_events,
        |  (valid_to IS NULL) AS is_current
        |FROM v ORDER BY user_id, version""".stripMargin,

    "q_decontamination" -> decontaminationSql,

    // the bloom prefilter has no false negatives and survivors are
    // exact-verified, so the RESULT is identical to the exact plan —
    // one oracle states both
    "q_decontamination_bloom" -> decontaminationSql,

    // mirrors Decontamination.multiNeedleHits (Aho-Corasick broadcast
    // automaton) as its semantic equivalent: a contains() join — the
    // automaton reports exactly the verbatim-substring pairs
    "q_decontamination_multi" ->
      s"""WITH mn_needles AS (SELECT doc_id AS needle_id,
         |    substr(text, CAST(doc_id % 7 AS INTEGER) + 1, 20) AS needle
         |  FROM documents WHERE doc_id % 17 = 3),
         |mn_n AS (SELECT needle_id, needle FROM mn_needles
         |  WHERE length(needle) >= 10),
         |mn_hits AS (SELECT d.doc_id, n.needle_id
         |  FROM documents d JOIN mn_n n ON contains(d.text, n.needle))
         |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_matched,
         |  MIN(needle_id) AS first_needle_id
         |FROM mn_hits GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // mirrors Packing.paddingEfficiency(batchSize = 32, per source):
    // per-shard row_number batches, padded = count * batch max
    "q_padding_efficiency" -> {
      def strat(name: String, order: String) =
        s"""SELECT '$name' AS strategy,
           |  CAST(COUNT(*) AS BIGINT) AS n_batches,
           |  CAST(SUM(tot) AS BIGINT) AS total_tokens,
           |  CAST(SUM(cnt * mx) AS BIGINT) AS padded_tokens,
           |  ${rd("(SUM(cnt * mx) - SUM(tot)) / CAST(SUM(cnt * mx) AS DOUBLE)", 4)} AS waste_frac
           |FROM (
           |  SELECT grp, batch, COUNT(*) AS cnt, MAX(len) AS mx, SUM(len) AS tot
           |  FROM (
           |    SELECT grp, len,
           |      (ROW_NUMBER() OVER (PARTITION BY grp ORDER BY $order) - 1) // 32 AS batch
           |    FROM base)
           |  GROUP BY grp, batch
           |)""".stripMargin
      s"""WITH base AS (
         |  SELECT source AS grp, doc_id AS id,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS len
         |  FROM documents
         |)
         |${strat("arrival", "id")}
         |UNION ALL
         |${strat("length_sorted", "len, id")}
         |ORDER BY strategy""".stripMargin
    },

    "q_doc_packing" -> {
      val shard = s"${h60("CAST(doc_id AS VARCHAR)")} % 8"
      s"""WITH t AS (
         |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS toks,
         |    CAST($shard AS BIGINT) AS shard
         |  FROM documents
         |  WHERE len(string_split(text, ' ')) > 0
         |),
         |o AS (
         |  SELECT doc_id, shard, toks,
         |    CAST(SUM(toks) OVER (PARTITION BY shard ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) - toks AS start_offset
         |  FROM t
         |)
         |SELECT doc_id, shard, start_offset,
         |  CAST(FLOOR(start_offset / 512.0) AS BIGINT) AS start_chunk,
         |  CAST(FLOOR((start_offset + toks - 1) / 512.0) AS BIGINT) AS end_chunk
         |FROM o ORDER BY doc_id""".stripMargin
    },

    "q_doc_chunks" ->
      """WITH t AS (
        |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS toks
        |  FROM documents
        |  WHERE len(string_split(text, ' ')) > 0
        |),
        |n AS (
        |  SELECT doc_id, toks,
        |    1 + CAST(FLOOR((GREATEST(toks - 128, 0) + 95) / 96.0) AS BIGINT) AS n_chunks
        |  FROM t
        |),
        |c AS (
        |  SELECT doc_id, toks, unnest(range(0, n_chunks)) AS chunk_idx FROM n
        |)
        |SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
        |  CAST(chunk_idx * 96 AS BIGINT) AS tok_start,
        |  CAST(LEAST(chunk_idx * 96 + 128, toks) AS BIGINT) AS tok_end,
        |  CAST(LEAST(chunk_idx * 96 + 128, toks) - chunk_idx * 96 AS BIGINT) AS n_toks
        |FROM c ORDER BY doc_id, chunk_idx""".stripMargin,

    "q_pivot" ->
      s"""SELECT l_returnflag AS return_flag,
         |  ${rd(s"CAST(SUM(CASE WHEN l_linestatus = 'F' THEN ${sc("l_quantity", 2)} END) AS DOUBLE) / 1e2", 2)} AS qty_f,
         |  ${rd(s"CAST(SUM(CASE WHEN l_linestatus = 'O' THEN ${sc("l_quantity", 2)} END) AS DOUBLE) / 1e2", 2)} AS qty_o
         |FROM lineitem GROUP BY l_returnflag ORDER BY return_flag""".stripMargin,

    // UNPIVOT of the pivot output back to long form
    "q_unpivot" ->
      s"""SELECT return_flag, line_status, qty FROM (
         |  SELECT l_returnflag AS return_flag,
         |    ${rd(s"CAST(SUM(CASE WHEN l_linestatus = 'F' THEN ${sc("l_quantity", 2)} END) AS DOUBLE) / 1e2", 2)} AS qty_f,
         |    ${rd(s"CAST(SUM(CASE WHEN l_linestatus = 'O' THEN ${sc("l_quantity", 2)} END) AS DOUBLE) / 1e2", 2)} AS qty_o
         |  FROM lineitem GROUP BY l_returnflag
         |) UNPIVOT (qty FOR line_status IN (qty_f, qty_o))
         |ORDER BY return_flag, line_status""".stripMargin,

    // FULL OUTER join across the two lanes' day grains
    "q_full_outer" ->
      s"""WITH ${graft.sources.Adapters.barsSql},
         |bv AS (
         |  SELECT trade_date, CAST(SUM(volume) AS BIGINT) AS bar_volume
         |  FROM bars GROUP BY trade_date
         |),
         |tc AS (
         |  SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS trade_date,
         |    CAST(COUNT(*) AS BIGINT) AS n_ticks
         |  FROM events GROUP BY 1
         |)
         |SELECT trade_date, bar_volume, n_ticks
         |FROM bv FULL OUTER JOIN tc USING (trade_date)
         |ORDER BY trade_date""".stripMargin,

    "q_sample_split" -> {
      val bucket = s"${h60("CAST(doc_id AS VARCHAR)")} % 10000"
      s"""SELECT doc_id, lang,
         |  CASE WHEN $bucket < 8000 THEN 'train'
         |       WHEN $bucket < 9000 THEN 'val'
         |       ELSE 'test' END AS split
         |FROM documents
         |WHERE $bucket < 5000
         |ORDER BY doc_id""".stripMargin
    },

    "q_stratified_sample" -> {
      val bucket = s"${h60("CAST(doc_id AS VARCHAR)")} % 10000"
      s"""SELECT doc_id, lang FROM documents
         |WHERE $bucket < CASE WHEN lang = 'en' THEN 8000
         |                     WHEN lang = 'de' THEN 5000
         |                     ELSE 2500 END
         |ORDER BY doc_id""".stripMargin
    },

    "q_quality_audit" -> {
      def nn(c: String) =
        s"CAST(SUM(CASE WHEN $c IS NOT NULL THEN 0 ELSE 1 END) AS BIGINT) AS not_null_$c"
      def btw(c: String, lo: String, hi: String) =
        s"CAST(SUM(CASE WHEN ($c IS NULL OR ($c >= $lo AND $c <= $hi)) THEN 0 ELSE 1 END) AS BIGINT) AS between_$c"
      def acc(c: String, vals: Seq[String]) =
        s"CAST(SUM(CASE WHEN ($c IS NULL OR $c IN (${vals.map(v => s"'$v'").mkString(", ")})) THEN 0 ELSE 1 END) AS BIGINT) AS accepted_values_$c"
      val crosses = Seq("GOLDEN_CROSS", "DEATH_CROSS", "NEUTRAL")
      s"""${dailyChain("perf")}
         |SELECT CAST(COUNT(*) AS BIGINT) AS row_count,
         |  ${nn("symbol")},
         |  ${nn("trade_date")},
         |  ${nn("close_price")},
         |  ${btw("close_price", "0.01", "1000000.0")},
         |  ${btw("daily_return_pct", "-100.0", "10000.0")},
         |  ${acc("ma_signal_5_20", crosses)},
         |  ${acc("ma_signal_10_50", crosses)},
         |  ${btw("rsi_14", "0.0", "100.0")},
         |  ${acc("rsi_signal", Seq("OVERBOUGHT", "OVERSOLD", "NEUTRAL"))},
         |  ${btw("pct_of_52w_range", "0.0", "100.0")}
         |FROM perf""".stripMargin
    },

    "q_sim_ivf" ->
      s"""WITH $embSql,
         |seeds AS (
         |  SELECT vec_id AS sid, vq AS sq FROM en
         |  ORDER BY ${h60("CAST(vec_id AS VARCHAR)")}, vec_id
         |  LIMIT 16
         |),
         |cent AS (
         |  SELECT sq, CAST(ROW_NUMBER() OVER (ORDER BY sid) - 1 AS BIGINT) AS cell FROM seeds
         |),
         |dist AS (
         |  SELECT e.vec_id, e.vq, e.nq, c.cell,
         |    list_sum(list_transform(range(1, 65), k -> (e.vq[k] - c.sq[k]) * (e.vq[k] - c.sq[k]))) AS d
         |  FROM en e CROSS JOIN cent c
         |),
         |ranked AS (
         |  SELECT vec_id, vq, nq, cell,
         |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
         |  FROM dist
         |),
         |ca AS (SELECT vec_id, vq, nq, cell FROM ranked WHERE rn = 1),
         |qa AS (SELECT vec_id, vq, nq, cell FROM ranked WHERE rn <= 2 AND vec_id % 50 = 0 AND vec_id < 500),
         |sc AS (
         |  SELECT DISTINCT b.vec_id AS query_id, a.vec_id AS corpus_id,
         |    ${cosExpr(pairDot, "a.nq", "b.nq")} AS cosine
         |  FROM ca a JOIN qa b ON a.cell = b.cell
         |  WHERE b.vec_id != a.vec_id
         |),
         |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, corpus_id ASC) AS rn FROM sc)
         |SELECT query_id, corpus_id, cosine, CAST(rn AS INTEGER) AS rank
         |FROM r WHERE rn <= 5 ORDER BY query_id, rank""".stripMargin,

    // IVF over the Lloyd-refined quantizer (mirrors ivfTopK with
    // refineIters=1: kmeansRefineCtes' centf is the trained model)
    "q_sim_ivf_refined" ->
      s"""WITH $kmeansRefineCtes,
         |dist2 AS (
         |  SELECT e.vec_id, e.vq, e.nq, cf.cell,
         |    list_sum(list_transform(range(1, 65), k -> (e.vq[k] - cf.sq[k]) * (e.vq[k] - cf.sq[k]))) AS d
         |  FROM en e CROSS JOIN centf cf
         |),
         |ranked2 AS (
         |  SELECT vec_id, vq, nq, cell,
         |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
         |  FROM dist2
         |),
         |ca AS (SELECT vec_id, vq, nq, cell FROM ranked2 WHERE rn = 1),
         |qa AS (SELECT vec_id, vq, nq, cell FROM ranked2 WHERE rn <= 2 AND vec_id % 50 = 0 AND vec_id < 500),
         |sc AS (
         |  SELECT DISTINCT b.vec_id AS query_id, a.vec_id AS corpus_id,
         |    ${cosExpr(pairDot, "a.nq", "b.nq")} AS cosine
         |  FROM ca a JOIN qa b ON a.cell = b.cell
         |  WHERE b.vec_id != a.vec_id
         |),
         |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, corpus_id ASC) AS rn FROM sc)
         |SELECT query_id, corpus_id, cosine, CAST(rn AS INTEGER) AS rank
         |FROM r WHERE rn <= 5 ORDER BY query_id, rank""".stripMargin,

    // mirrors Similarity.ivfAssign: md5-seeded sampled centroids,
    // exact integer L2, ties by cell index
    "q_ivf_assign" ->
      s"""WITH $embSql,
         |seeds AS (
         |  SELECT vec_id AS sid, vq AS sq FROM en
         |  ORDER BY ${h60("CAST(vec_id AS VARCHAR)")}, vec_id
         |  LIMIT 16
         |),
         |cent AS (
         |  SELECT sq, CAST(ROW_NUMBER() OVER (ORDER BY sid) - 1 AS BIGINT) AS cell FROM seeds
         |),
         |dist AS (
         |  SELECT e.vec_id, c.cell,
         |    list_sum(list_transform(range(1, 65), k -> (e.vq[k] - c.sq[k]) * (e.vq[k] - c.sq[k]))) AS d
         |  FROM en e CROSS JOIN cent c
         |),
         |ranked AS (
         |  SELECT vec_id, cell, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
         |  FROM dist
         |)
         |SELECT vec_id AS id, cell FROM ranked WHERE rn = 1 ORDER BY id""".stripMargin,

    // Per-label prototype centroids (mirrors Similarity.groupCentroids:
    // element-wise floor-mean over exact quantized longs)
    "q_group_centroids" ->
      s"""WITH $embSql,
         |comp AS (
         |  SELECT label, k,
         |    CAST(FLOOR(SUM(vq[k]) / CAST(COUNT(*) AS DOUBLE)) AS BIGINT) AS m,
         |    CAST(COUNT(*) AS BIGINT) AS c
         |  FROM en, (SELECT unnest(range(1, 65)) AS k) ks
         |  GROUP BY label, k
         |)
         |, nv AS (SELECT label, MIN(c) AS n_vecs FROM comp GROUP BY label)
         |SELECT cp.label, nv.n_vecs, CAST(cp.k - 1 AS INTEGER) AS k, cp.m
         |FROM comp cp JOIN nv USING (label)
         |ORDER BY cp.label, k""".stripMargin,

    // Cluster labeling: top-5 tokens per refined k-means cell
    // (mirrors TextAnalysis.clusterTopTerms over kmeansRefine)
    "q_cluster_terms" ->
      s"""WITH $kmeansRefineCtes,
         |tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
         |ct AS (
         |  SELECT a.cell, t.token, CAST(COUNT(*) AS BIGINT) AS n
         |  FROM tok t JOIN af a ON t.doc_id = a.vec_id
         |  GROUP BY a.cell, t.token
         |),
         |r AS (
         |  SELECT cell, token, n,
         |    ROW_NUMBER() OVER (PARTITION BY cell ORDER BY n DESC, token) AS rnk
         |  FROM ct
         |)
         |SELECT cell, CAST(rnk AS INTEGER) AS rnk, token, n FROM r
         |WHERE rnk <= 5 ORDER BY cell, rnk""".stripMargin,

    // One unrolled Lloyd round (mirrors Similarity.kmeansRefine,
    // iters=1): seed assignment → per-(cell, dim) integer mean with
    // FLOOR division (exact: quotients are >= 1/n from any integer
    // unless exactly integral) → empty cells keep the seed → reassign
    "q_kmeans_refine" ->
      s"""WITH $kmeansRefineCtes
         |SELECT vec_id AS id, cell FROM af ORDER BY id""".stripMargin,

    // SemDedup end to end: cell assignment (as q_ivf_assign) →
    // within-cell pairwise cosine ≥ threshold → recursive-CTE
    // components → keep the component minimum
    "q_semdedup" ->
      s"""WITH RECURSIVE $embSql,
         |seeds AS (
         |  SELECT vec_id AS sid, vq AS sq FROM en
         |  ORDER BY ${h60("CAST(vec_id AS VARCHAR)")}, vec_id
         |  LIMIT 16
         |),
         |cent AS (
         |  SELECT sq, CAST(ROW_NUMBER() OVER (ORDER BY sid) - 1 AS BIGINT) AS cell FROM seeds
         |),
         |dist AS (
         |  SELECT e.vec_id, e.vq, e.nq, c.cell,
         |    list_sum(list_transform(range(1, 65), k -> (e.vq[k] - c.sq[k]) * (e.vq[k] - c.sq[k]))) AS d
         |  FROM en e CROSS JOIN cent c
         |),
         |ranked AS (
         |  SELECT vec_id, vq, nq, cell,
         |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
         |  FROM dist
         |),
         |asg AS (SELECT vec_id, vq, nq, cell FROM ranked WHERE rn = 1),
         |pairs AS (
         |  SELECT a.vec_id AS id1, b.vec_id AS id2
         |  FROM asg a JOIN asg b ON a.cell = b.cell AND a.vec_id < b.vec_id
         |  WHERE ${cosExpr(pairDot, "a.nq", "b.nq")} >= 0.3
         |),
         |edges AS (
         |  SELECT id1 AS a, id2 AS b FROM pairs
         |  UNION ALL
         |  SELECT id2 AS a, id1 AS b FROM pairs
         |),
         |verts AS (SELECT DISTINCT a AS id FROM edges),
         |cc AS (
         |  SELECT id, id AS label FROM verts
         |  UNION
         |  SELECT e.b AS id, c.label FROM cc c JOIN edges e ON c.id = e.a
         |),
         |labels AS (SELECT id, MIN(label) AS rep_id FROM cc GROUP BY id)
         |SELECT g.vec_id AS id, g.cell,
         |  COALESCE(l.rep_id, g.vec_id) AS rep_id,
         |  (COALESCE(l.rep_id, g.vec_id) = g.vec_id) AS kept
         |FROM asg g LEFT JOIN labels l ON g.vec_id = l.id
         |ORDER BY id""".stripMargin,

    "q_dedup_embedding" ->
      s"""WITH dv AS (
         |  SELECT d.doc_id, d.lang,
         |    list_transform(e.embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)) AS vq
         |  FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
         |),
         |en AS (SELECT doc_id, lang, vq, list_sum(list_transform(vq, x -> x * x)) AS nq FROM dv),
         |bk AS (
         |  SELECT doc_id, lang AS blk, vq, nq, CAST(${lshSigSql(32)} AS BIGINT) AS sig
         |  FROM en
         |),
         |${bandedNearDupSql("doc_id", bands = 8, planesPerBand = 4, threshold = 0.3)}""".stripMargin,

    "q_sim_near_dup" ->
      s"""WITH $embSql,
         |bk AS (
         |  SELECT vec_id, label AS blk, vq, nq, CAST(${lshSigSql(32)} AS BIGINT) AS sig
         |  FROM en
         |),
         |${bandedNearDupSql("vec_id", bands = 8, planesPerBand = 4, threshold = 0.3)}""".stripMargin,

    "q_rolling_hash" ->
      """WITH codes AS (
        |  SELECT doc_id,
        |    list_transform(range(1, len(text) + 1), i -> CAST(unicode(substr(text, CAST(i AS INTEGER), 1)) AS BIGINT)) AS cs,
        |    list_transform(range(1, len(substr(text, 1, 64)) + 1), i -> CAST(unicode(substr(substr(text, 1, 64), CAST(i AS INTEGER), 1)) AS BIGINT)) AS ps
        |  FROM documents
        |)
        |SELECT doc_id,
        |  list_reduce(list_concat([0::BIGINT], cs), (a, b) -> (a * 31 + b) % 1000000007) AS content_rh,
        |  list_reduce(list_concat([0::BIGINT], ps), (a, b) -> (a * 31 + b) % 1000000007) AS prefix_rh
        |FROM codes ORDER BY doc_id""".stripMargin,

    "q_multimodal_frames" ->
      """WITH m AS (
        |  SELECT doc_id AS media_id, text,
        |    CAST(length(text) AS INTEGER) AS n_bytes,
        |    'text/fake' AS mime,
        |    CAST(ceil(length(text) / 256.0) AS INTEGER) AS n_frames
        |  FROM documents
        |),
        |f AS (
        |  SELECT media_id, text, n_bytes, mime, n_frames,
        |    unnest(range(0, n_frames)) AS frame_idx
        |  FROM m
        |)
        |SELECT media_id, n_bytes, mime, n_frames,
        |  CAST(frame_idx AS INTEGER) AS frame_idx,
        |  CAST(length(substr(text, CAST(frame_idx * 256 + 1 AS INTEGER), 256)) AS INTEGER) AS frame_len,
        |  md5(substr(text, CAST(frame_idx * 256 + 1 AS INTEGER), 256)) AS frame_hash
        |FROM f ORDER BY media_id, frame_idx""".stripMargin,

    // PNG is lossless ⇒ decoded raster == input bytes (= unhex(md5)).
    // The expected features are thus codec-free to state; only a
    // working encode∘decode in Spark can reproduce them.
    "q_multimodal_decode" ->
      """SELECT CAST(doc_id AS BIGINT) AS media_id,
        |  CAST(4 AS INTEGER) AS width,
        |  CAST(4 AS INTEGER) AS height,
        |  UPPER(MD5(text)) AS pixel_hex,
        |  TRUE AS decode_ok
        |FROM documents ORDER BY media_id""".stripMargin,

    // raw (non-distinct) word bigrams as 60-bit hashes, per-doc
    // max-count / total — the same two-aggregation tree
    "q_repetition" ->
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         |bg AS (
         |  SELECT doc_id, ${h60("bgs")} AS bh FROM (
         |    SELECT doc_id,
         |      unnest(list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1])) AS bgs
         |    FROM w WHERE len(ws) >= 2) x
         |),
         |cnt AS (SELECT doc_id, bh, COUNT(*) AS c FROM bg GROUP BY doc_id, bh)
         |SELECT doc_id,
         |  CAST(SUM(c) AS BIGINT) AS n_bigrams,
         |  CAST(MAX(c) AS BIGINT) AS top_bigram_count,
         |  ${rd("MAX(c) / CAST(SUM(c) AS DOUBLE)", 4)} AS top_bigram_frac
         |FROM cnt GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // identical RE2-subset patterns on both engines
    "q_pii_signals" ->
      s"""SELECT doc_id,
         |  CAST(len(regexp_extract_all(text, '${graft.operators.TextAnalysis.emailPattern}')) AS BIGINT) AS email_count,
         |  CAST(len(regexp_extract_all(text, '${graft.operators.TextAnalysis.urlPattern}')) AS BIGINT) AS url_count,
         |  ${rd("length(regexp_replace(text, '[^0-9]', '', 'g')) / CAST(NULLIF(length(text), 0) AS DOUBLE)", 4)} AS digit_frac
         |FROM documents ORDER BY doc_id""".stripMargin,

    // RANGE frame over integer epoch-days — the calendar twin of the
    // ROWS-frame rolling mirrors above
    "q_calendar_rolling" ->
      s"""${dailyChain("bars")}
         |SELECT symbol, trade_date,
         |  ${rd(s"AVG(${sc("close_price", 2)}) OVER w / 100.0", 4)} AS avg_close_7d,
         |  COUNT(*) OVER w AS n_obs_7d,
         |  CAST(SUM(volume) OVER w AS BIGINT) AS vol_sum_7d
         |FROM bars
         |WINDOW w AS (PARTITION BY symbol
         |  ORDER BY date_diff('day', DATE '1970-01-01', trade_date)
         |  RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
         |ORDER BY symbol, trade_date""".stripMargin,

    // both engines: exact sort-based percentile at pos = p*(n-1) with
    // linear interpolation — exact on whole-valued quantities
    "q_quantiles" ->
      """SELECT l_returnflag,
        |  quantile_cont(l_quantity, 0.25) AS p25_qty,
        |  quantile_cont(l_quantity, 0.5) AS p50_qty,
        |  quantile_cont(l_quantity, 0.75) AS p75_qty,
        |  quantile_cont(l_quantity, 0.99) AS p99_qty,
        |  COUNT(*) AS n
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,

    // the same shift/mask interleave ladder, generated from the same
    // Scala constants (graft.sources.Layout.zValueSql)
    "q_layout_zorder" ->
      s"""SELECT l_orderkey, l_suppkey,
         |  CAST(${graft.sources.Layout.zValueSql("l_orderkey", "l_suppkey")} AS BIGINT) AS z
         |FROM lineitem ORDER BY l_orderkey, l_suppkey""".stripMargin,

    // mirrors Layout.hilbertValue: the identical [x, y, d] bit-level
    // fold via list_reduce (DuckDB ^ is power — xor() used instead)
    "q_layout_hilbert" ->
      s"""SELECT l_orderkey, l_suppkey,
         |  CAST(${graft.sources.Layout.zValueSql("l_orderkey", "l_suppkey")} AS BIGINT) AS z,
         |  CAST(${graft.sources.Layout.hilbertSql("l_orderkey", "l_suppkey")} AS BIGINT) AS h
         |FROM lineitem ORDER BY l_orderkey, l_suppkey""".stripMargin,

    "q_heavy_hitters" ->
      """WITH ex0 AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
        |ex AS (SELECT DISTINCT doc_id, token FROM ex0),
        |dfreq AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS doc_freq FROM ex GROUP BY token),
        |r AS (SELECT token, doc_freq,
        |  CAST(ROW_NUMBER() OVER (ORDER BY doc_freq DESC, token ASC) AS INTEGER) AS rank
        |  FROM dfreq)
        |SELECT token, doc_freq, rank FROM r WHERE rank <= 25 ORDER BY rank""".stripMargin,

    "q_json_extract" ->
      """WITH e AS (
        |  SELECT event_type, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val
        |  FROM events)
        |SELECT event_type,
        |  CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(k_val) AS BIGINT) AS sum_k,
        |  MIN(k_val) AS min_k,
        |  MAX(k_val) AS max_k,
        |  CAST(COUNT(k_val) AS BIGINT) AS n_with_k
        |FROM e GROUP BY event_type ORDER BY event_type""".stripMargin,

    // same bucket expression tree: (x - lo) / step, floor, clamp;
    // edges are pure literal×integer double products on both sides
    "q_histogram" ->
      """WITH b AS (
        |  SELECT LEAST(GREATEST(CAST(FLOOR((o_totalprice - 0.0) / 25000.0) AS BIGINT), 0), 19) AS bucket
        |  FROM orders)
        |SELECT bucket,
        |  0.0 + bucket * 25000.0 AS lo_edge,
        |  0.0 + (bucket + 1) * 25000.0 AS hi_edge,
        |  CAST(COUNT(*) AS BIGINT) AS n
        |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin,

    // HLL sparse-mode exactness (mirrors qHllExact): distinct langs
    // per source sits far below the sparse-to-dense threshold, where
    // the sketch stores raw coupons and the estimate is exact
    "q_hll_exact" ->
      """SELECT source, CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(COUNT(DISTINCT lang) AS BIGINT) AS approx_distinct
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,

    // CMS collision-free exactness (mirrors qCmsExact): ~20 source
    // keys over a 2000-counter-wide fixed-seed sketch row read back
    // their exact counts, so the estimate IS grouped count(*)
    "q_cms_exact" ->
      """SELECT source,
        |  CAST(COUNT(*) AS BIGINT) AS cms_estimate,
        |  CAST(COUNT(*) AS BIGINT) AS exact_count
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,

    // KLL under-capacity exactness (mirrors qKllQuantiles): n per
    // nation << k=200 ⇒ the sketch retains every item, and the
    // INCLUSIVE-rank quantile is the order statistic sorted[⌈p·n⌉]
    "q_kll_quantiles" ->
      """WITH s AS (
        |  SELECT s_nationkey, CAST(s_acctbal AS DOUBLE) AS bal FROM supplier
        |),
        |r AS (
        |  SELECT s_nationkey, bal,
        |    ROW_NUMBER() OVER (PARTITION BY s_nationkey ORDER BY bal) AS rn,
        |    COUNT(*) OVER (PARTITION BY s_nationkey) AS n
        |  FROM s
        |)
        |SELECT s_nationkey,
        |  CAST(MAX(n) AS BIGINT) AS n_rows,
        |  CAST(MAX(n) AS BIGINT) AS kll_n,
        |  MAX(CASE WHEN rn = CAST(CEIL(0.25 * n) AS BIGINT) THEN bal END) AS p25,
        |  MAX(CASE WHEN rn = CAST(CEIL(0.5 * n) AS BIGINT) THEN bal END) AS p50,
        |  MAX(CASE WHEN rn = CAST(CEIL(0.75 * n) AS BIGINT) THEN bal END) AS p75
        |FROM r GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin,

    "q_ntile_deciles" -> {
      s"""WITH spend AS (
         |  SELECT o_custkey, CAST(SUM(${sc("o_totalprice", 2)}) AS BIGINT) AS total
         |  FROM orders GROUP BY o_custkey),
         |t AS (SELECT total,
         |  CAST(NTILE(10) OVER (ORDER BY total DESC, o_custkey ASC) AS INTEGER) AS tier
         |  FROM spend)
         |SELECT tier, CAST(COUNT(*) AS BIGINT) AS n_keys,
         |  ${rd("CAST(SUM(total) AS DOUBLE) / 1e2", 2)} AS tier_revenue,
         |  ${rd("CAST(MIN(total) AS DOUBLE) / 1e2", 2)} AS floor_revenue,
         |  ${rd("CAST(MAX(total) AS DOUBLE) / 1e2", 2)} AS ceiling_revenue
         |FROM t GROUP BY tier ORDER BY tier""".stripMargin
    },

    // the salted join is result-identical to the plain equi join —
    // the oracle IS the plain form
    "q_skew_join" ->
      s"""SELECT o_orderpriority,
         |  CAST(COUNT(*) AS BIGINT) AS n_items,
         |  ${rd(s"CAST(SUM(${sc("l_extendedprice", 2)}) AS DOUBLE) / 1e2", 2)} AS revenue
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    // mirrors TextAnalysis.bm25TopK: idf/tf-saturation floor-scaled to
    // longs; constants written as the SAME double expressions Scala
    // evaluates ((1.2 + 1.0), (1.0 - 0.75)) so bits match
    "q_bm25" ->
      s"""WITH ex0 AS (
         |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl,
         |    unnest(string_split(text, ' ')) AS t
         |  FROM documents),
         |ex AS (SELECT * FROM ex0 WHERE t IN ('spark', 'vector', 'stream', 'hash')),
         |tf AS (SELECT doc_id, t, CAST(COUNT(*) AS BIGINT) AS tf, MAX(dl) AS dl
         |  FROM ex GROUP BY doc_id, t),
         |dfreq AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY t),
         |stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(CAST(len(string_split(text, ' ')) AS BIGINT)) AS BIGINT) AS sum_dl
         |  FROM documents),
         |s AS (SELECT n_docs, CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE) AS avgdl FROM stats),
         |w AS (
         |  SELECT tf.doc_id,
         |    CAST(FLOOR(1000000.0 * (CAST(s.n_docs - d.df AS DOUBLE) + 0.5)
         |      / (CAST(d.df AS DOUBLE) + 0.5)) AS BIGINT)
         |    * CAST(FLOOR(10000.0 * (CAST(tf.tf AS DOUBLE) * (1.2 + 1.0))
         |      / (CAST(tf.tf AS DOUBLE) + 1.2 * ((1.0 - 0.75) + 0.75 * (CAST(tf.dl AS DOUBLE) / s.avgdl)))) AS BIGINT) AS w
         |  FROM tf JOIN dfreq d ON tf.t = d.t CROSS JOIN s)
         |SELECT doc_id, CAST(SUM(w) AS BIGINT) AS score, CAST(COUNT(*) AS BIGINT) AS n_query_terms
         |FROM w GROUP BY doc_id
         |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,

    // mirrors TextAnalysis.rrfFuse over the bm25TopK and tfidfTopK
    // top-20 lists (same 4-term query): per-system ranks by
    // (score DESC, doc_id), contribution FLOOR(1e9/(60+rank)) as an
    // exact long, fused by integer sum
    // mirrors Similarity.pcaTopComponent (dim=64, iters=2): vectors
    // quantized to scaled-1e4 longs, exact integer dots, HUGEINT
    // per-dimension sums, and the same double renormalization
    // v_j = FLOOR(w_j/max|w|*1e4 + 0.5) unrolled two rounds
    "q_pca_power" ->
      s"""WITH e AS (
         |  SELECT list_transform(embedding,
         |    x -> CAST(FLOOR(CAST(x AS DOUBLE) * 10000.0 + 0.5) AS BIGINT)) AS xq
         |  FROM embeddings WHERE len(embedding) = 64),
         |d1 AS (SELECT xq, list_sum(list_transform(xq, x -> x * 10000)) AS dot FROM e),
         |c1 AS (
         |  SELECT i, SUM(CAST(xq[CAST(i + 1 AS INTEGER)] AS HUGEINT) * dot) AS w
         |  FROM d1 CROSS JOIN range(64) t(i) GROUP BY i),
         |m1 AS (SELECT MAX(ABS(CAST(w AS DOUBLE))) AS m FROM c1),
         |v1 AS (
         |  SELECT list(vj ORDER BY i) AS v FROM (
         |    SELECT i, CAST(FLOOR(CAST(w AS DOUBLE) / m * 10000.0 + 0.5) AS BIGINT) AS vj
         |    FROM c1 CROSS JOIN m1)),
         |d2 AS (
         |  SELECT xq, list_sum(list_transform(range(1, 65),
         |    j -> xq[CAST(j AS INTEGER)] * v[CAST(j AS INTEGER)])) AS dot
         |  FROM e CROSS JOIN v1),
         |c2 AS (
         |  SELECT i, SUM(CAST(xq[CAST(i + 1 AS INTEGER)] AS HUGEINT) * dot) AS w
         |  FROM d2 CROSS JOIN range(64) t(i) GROUP BY i),
         |m2 AS (SELECT MAX(ABS(CAST(w AS DOUBLE))) AS m FROM c2)
         |SELECT CAST(i AS INTEGER) AS dim,
         |  CAST(CAST(FLOOR(CAST(w AS DOUBLE) / m * 10000.0 + 0.5) AS BIGINT) AS DOUBLE)
         |    / 10000.0 AS loading
         |FROM c2 CROSS JOIN m2 ORDER BY dim""".stripMargin,

    // mirrors Graph.assortativity over the part co-purchase graph:
    // both edge directions, HUGEINT moment sums, one Pearson rd(4)
    "q_assortativity" ->
      s"""WITH raw AS (
         |  SELECT u, v FROM (
         |    SELECT a.l_partkey AS u, b.l_partkey AS v, COUNT(*) AS n
         |    FROM lineitem a JOIN lineitem b
         |      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
         |    GROUP BY a.l_partkey, b.l_partkey)
         |  WHERE n >= 2),
         |und AS (SELECT DISTINCT LEAST(CAST(u AS BIGINT), CAST(v AS BIGINT)) AS u,
         |    GREATEST(CAST(u AS BIGINT), CAST(v AS BIGINT)) AS v FROM raw),
         |sym AS (SELECT u, v FROM und UNION ALL SELECT v, u FROM und),
         |deg AS (SELECT u AS id, CAST(COUNT(*) AS BIGINT) AS deg FROM sym GROUP BY u),
         |ends AS (
         |  SELECT CAST(d1.deg AS HUGEINT) AS x, CAST(d2.deg AS HUGEINT) AS y
         |  FROM sym JOIN deg d1 ON sym.u = d1.id JOIN deg d2 ON sym.v = d2.id),
         |g AS (
         |  SELECT CAST(COUNT(*) AS HUGEINT) AS m,
         |    SUM(x) AS sx, SUM(y) AS sy, SUM(x * y) AS sxy,
         |    SUM(x * x) AS sxx, SUM(y * y) AS syy
         |  FROM ends)
         |SELECT CAST(m AS BIGINT) AS n_edge_ends,
         |  ${rd("""CAST(m * sxy - sx * sy AS DOUBLE) /
         |    NULLIF(sqrt(CAST(m * sxx - sx * sx AS DOUBLE)) *
         |           sqrt(CAST(m * syy - sy * sy AS DOUBLE)), 0)""", 4)} AS assortativity
         |FROM g""".stripMargin,

    // mirrors Cohorts.mantelHaenszel (treated = odd user, stratum =
    // (user_id div 2) % 3, conversion = any 'purchase'): exact 2x2
    // cells per stratum, per-stratum RR, MH-pooled via scaled(6) sums
    "q_mh_lift" ->
      s"""WITH pu AS (
         |  SELECT user_id AS u, (user_id // 2) % 3 AS stratum,
         |    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
         |  FROM events GROUP BY 1, 2),
         |cells AS (
         |  SELECT stratum,
         |    CAST(SUM(CASE WHEN u % 2 = 1 THEN conv ELSE 0 END) AS BIGINT) AS a,
         |    CAST(SUM(CASE WHEN u % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         |    CAST(SUM(CASE WHEN u % 2 = 0 THEN conv ELSE 0 END) AS BIGINT) AS b,
         |    CAST(SUM(CASE WHEN u % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0
         |  FROM pu GROUP BY stratum),
         |s AS (
         |  SELECT stratum, a, n1, b, n0, n1 + n0 AS n,
         |    ${rd("""CAST(a AS DOUBLE) / NULLIF(CAST(n1 AS DOUBLE), 0) /
         |      NULLIF(CAST(b AS DOUBLE) / NULLIF(CAST(n0 AS DOUBLE), 0), 0)""", 4)} AS rr_stratum,
         |    CAST(a AS DOUBLE) * CAST(n0 AS DOUBLE) / CAST(n1 + n0 AS DOUBLE) AS num,
         |    CAST(b AS DOUBLE) * CAST(n1 AS DOUBLE) / CAST(n1 + n0 AS DOUBLE) AS den
         |  FROM cells),
         |pooled AS (
         |  SELECT CAST(SUM(${sc("num", 6)}) AS BIGINT) AS num6,
         |    CAST(SUM(${sc("den", 6)}) AS BIGINT) AS den6
         |  FROM s)
         |SELECT stratum, a AS conv_treat, n1 AS n_treat, b AS conv_ctrl, n0 AS n_ctrl,
         |  rr_stratum,
         |  ${rd("CAST(num6 AS DOUBLE) / NULLIF(CAST(den6 AS DOUBLE), 0)", 4)} AS rr_pooled
         |FROM s CROSS JOIN pooled ORDER BY stratum""".stripMargin,

    // mirrors TextAnalysis.tokenFertility: exact char/word/subword
    // counts per language, two rd(4) ratios
    "q_token_fertility" ->
      s"""WITH d AS (
         |  SELECT lang, CAST(length(text) AS BIGINT) AS chars,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS words,
         |    CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)) AS BIGINT) AS subwords
         |  FROM documents)
         |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(chars) AS BIGINT) AS n_chars,
         |  CAST(SUM(words) AS BIGINT) AS n_words,
         |  CAST(SUM(subwords) AS BIGINT) AS n_subwords,
         |  ${rd("CAST(SUM(chars) AS DOUBLE) / NULLIF(CAST(SUM(words) AS DOUBLE), 0)", 4)} AS chars_per_word,
         |  ${rd("CAST(SUM(chars) AS DOUBLE) / NULLIF(CAST(SUM(subwords) AS DOUBLE), 0)", 4)} AS chars_per_subword
         |FROM d GROUP BY lang ORDER BY lang""".stripMargin,

    // mirrors Cohorts.kaplanMeier (churnGapHours=24): hour-grain
    // duration histogram with right censoring at panel end,
    // suffix-sum risk sets, product-limit survival via exp of
    // floor-scaled(8) ln terms
    "q_kaplan_meier" ->
      s"""WITH ev AS (
         |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS h FROM events),
         |u AS (SELECT user_id, MIN(h) AS f, MAX(h) AS l FROM ev GROUP BY user_id),
         |p AS (SELECT MAX(h) AS pe FROM ev),
         |lives AS (
         |  SELECT CASE WHEN pe - l > 24 THEN l - f ELSE pe - f END AS t,
         |    pe - l > 24 AS event
         |  FROM u CROSS JOIN p),
         |hist AS (
         |  SELECT t, CAST(SUM(CASE WHEN event THEN 1 ELSE 0 END) AS BIGINT) AS d_t,
         |    CAST(COUNT(*) AS BIGINT) AS all_t
         |  FROM lives GROUP BY t),
         |ar AS (
         |  SELECT t, d_t, CAST(SUM(all_t) OVER (ORDER BY t
         |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT) AS n_risk
         |  FROM hist),
         |f2 AS (
         |  SELECT t, n_risk, d_t,
         |    ${sc("ln(1.0 - CAST(d_t AS DOUBLE) / CAST(n_risk AS DOUBLE))", 8)} AS ln8
         |  FROM ar WHERE d_t > 0),
         |c AS (
         |  SELECT t, n_risk, d_t, CAST(SUM(ln8) OVER (ORDER BY t
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
         |  FROM f2)
         |SELECT CAST(t AS BIGINT) AS t_hours, n_risk, d_t AS n_churned,
         |  ${rd("exp(CAST(cum AS DOUBLE) / 100000000.0)", 4)} AS survival
         |FROM c ORDER BY t_hours""".stripMargin,

    // mirrors Cohorts.markovTransitions: per-user bigrams by one LEAD
    // window (total order ts, event_id), exact count ratios
    "q_markov" ->
      s"""WITH ev AS (
         |  SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events),
         |b AS (
         |  SELECT event_type AS cur,
         |    LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
         |  FROM ev),
         |g AS (SELECT cur, nxt, CAST(COUNT(*) AS BIGINT) AS n FROM b
         |  WHERE nxt IS NOT NULL GROUP BY cur, nxt),
         |tot AS (SELECT cur, CAST(SUM(n) AS BIGINT) AS n_cur FROM g GROUP BY cur)
         |SELECT g.cur, g.nxt, g.n, t.n_cur,
         |  ${rd("CAST(g.n AS DOUBLE) / CAST(t.n_cur AS DOUBLE)", 4)} AS p
         |FROM g JOIN tot t USING (cur) ORDER BY g.cur, g.nxt""".stripMargin,

    // mirrors Cohorts.markovAbsorption: the SAME unrolled 8-round
    // exact-integer power recursion at scale 1e9, one (removed, state)
    // grid per removal variant, floor division every round
    "q_markov_attrib" -> markovAttribSql(8),

    // mirrors DailyAnalytics.mannKendall (W=120, minDays=30): scale-2
    // close tail, exact S and tie-corrected 18·VarS, one rd(4) z
    "q_mann_kendall" ->
      s"""${dailyChain("bars")},
         |mk_t AS (SELECT symbol, ${sc("close_price", 2)} AS p,
         |    ROW_NUMBER() OVER (PARTITION BY symbol ORDER BY trade_date DESC) AS rn
         |  FROM bars),
         |mk_tail AS (SELECT symbol, rn, p FROM mk_t WHERE rn <= 120),
         |mk_s AS (
         |  SELECT a.symbol,
         |    CAST(SUM(CASE WHEN a.p > b.p THEN 1 WHEN a.p < b.p THEN -1 ELSE 0 END) AS BIGINT) AS s_stat
         |  FROM mk_tail a JOIN mk_tail b ON a.symbol = b.symbol AND a.rn < b.rn
         |  GROUP BY a.symbol),
         |mk_n AS (SELECT symbol, CAST(COUNT(*) AS BIGINT) AS n_days FROM mk_tail GROUP BY symbol),
         |mk_ties AS (
         |  SELECT symbol, CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie18
         |  FROM (SELECT symbol, p, CAST(COUNT(*) AS BIGINT) AS t FROM mk_tail GROUP BY symbol, p)
         |  GROUP BY symbol),
         |mk_g AS (
         |  SELECT symbol, n_days, s_stat,
         |    n_days * (n_days - 1) * (2 * n_days + 5) - tie18 AS var18
         |  FROM mk_n JOIN mk_s USING (symbol) JOIN mk_ties USING (symbol)
         |  WHERE n_days >= 30),
         |mk_z AS (
         |  SELECT symbol, n_days, s_stat, CAST(var18 AS BIGINT) AS var18,
         |    ${rd("""CASE WHEN s_stat > 0 THEN CAST(s_stat - 1 AS DOUBLE)
         |         WHEN s_stat < 0 THEN CAST(s_stat + 1 AS DOUBLE) ELSE 0.0 END
         |      / NULLIF(sqrt(CAST(var18 AS DOUBLE) / 18.0), 0)""", 4)} AS z
         |  FROM mk_g)
         |SELECT symbol, n_days, s_stat, var18, z,
         |  CASE WHEN z >= 1.96 THEN 'UP' WHEN z <= -1.96 THEN 'DOWN' ELSE 'FLAT' END AS trend
         |FROM mk_z ORDER BY symbol""".stripMargin,

    // mirrors Graph.stronglyConnected over the intra-order part
    // sequence graph: the SAME unrolled 6+6 bounded FW-BW rounds
    "q_scc" -> sccSql(6, 2),

    // mirrors Enrichment.associationRules: order-grain baskets, exact
    // long supports, confidence/lift as fixed double trees, minSup 2
    "q_assoc_rules" ->
      s"""WITH ar_b AS (SELECT DISTINCT l_orderkey AS oid, l_partkey AS item FROM lineitem),
         |ar_n AS (SELECT CAST(COUNT(DISTINCT oid) AS BIGINT) AS n_orders FROM ar_b),
         |ar_i AS (SELECT item, CAST(COUNT(*) AS BIGINT) AS n_item FROM ar_b GROUP BY item),
         |ar_p AS (
         |  SELECT a.item AS a, b.item AS b, CAST(COUNT(*) AS BIGINT) AS n_ab
         |  FROM ar_b a JOIN ar_b b ON a.oid = b.oid AND a.item < b.item
         |  GROUP BY a.item, b.item HAVING COUNT(*) >= 2),
         |ar_r AS (SELECT a AS antecedent, b AS consequent, n_ab FROM ar_p
         |  UNION ALL SELECT b, a, n_ab FROM ar_p)
         |SELECT r.antecedent, r.consequent, r.n_ab,
         |  ia.n_item AS n_ante, ic.n_item AS n_cons,
         |  ${rd("CAST(r.n_ab AS DOUBLE) / CAST(ia.n_item AS DOUBLE)", 4)} AS confidence,
         |  ${rd("""(CAST(r.n_ab AS DOUBLE) / CAST(ia.n_item AS DOUBLE)) *
         |    (CAST(n.n_orders AS DOUBLE) / CAST(ic.n_item AS DOUBLE))""", 4)} AS lift
         |FROM ar_r r
         |JOIN ar_i ia ON r.antecedent = ia.item
         |JOIN ar_i ic ON r.consequent = ic.item
         |CROSS JOIN ar_n n
         |ORDER BY lift DESC, antecedent, consequent LIMIT 100""".stripMargin,

    // mirrors DailyAnalytics.twoFactorRegression: HUGEINT moments,
    // per-moment double casts, the SAME four Cramer determinant trees
    "q_two_factor" ->
      s"""${dailyChain("returns")},
         |tf_r AS (SELECT symbol, trade_date, ${sc4("daily_return_pct")} AS y
         |  FROM returns WHERE daily_return_pct IS NOT NULL),
         |tf_m AS (SELECT trade_date,
         |    CAST(FLOOR(SUM(y) / CAST(COUNT(*) AS DOUBLE)) AS BIGINT) AS x1
         |  FROM tf_r GROUP BY trade_date),
         |tf_l AS (SELECT trade_date, x1, x2 FROM (
         |    SELECT trade_date, x1, LAG(x1) OVER (ORDER BY trade_date) AS x2 FROM tf_m)
         |  WHERE x2 IS NOT NULL),
         |tf_g AS (
         |  SELECT symbol, CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(SUM(x1) AS BIGINT) AS s1, CAST(SUM(x2) AS BIGINT) AS s2,
         |    CAST(SUM(y) AS BIGINT) AS sy,
         |    SUM(CAST(x1 AS HUGEINT) * x1) AS s11,
         |    SUM(CAST(x1 AS HUGEINT) * x2) AS s12,
         |    SUM(CAST(x2 AS HUGEINT) * x2) AS s22,
         |    SUM(CAST(x1 AS HUGEINT) * y) AS s1y,
         |    SUM(CAST(x2 AS HUGEINT) * y) AS s2y
         |  FROM tf_r JOIN tf_l USING (trade_date)
         |  GROUP BY symbol HAVING COUNT(*) >= 30),
         |tf_d AS (
         |  SELECT symbol, n AS n_days,
         |    CAST(n AS DOUBLE) AS nd, CAST(s1 AS DOUBLE) AS s1d,
         |    CAST(s2 AS DOUBLE) AS s2d, CAST(sy AS DOUBLE) AS syd,
         |    CAST(s11 AS DOUBLE) AS s11d, CAST(s12 AS DOUBLE) AS s12d,
         |    CAST(s22 AS DOUBLE) AS s22d, CAST(s1y AS DOUBLE) AS s1yd,
         |    CAST(s2y AS DOUBLE) AS s2yd
         |  FROM tf_g),
         |tf_c AS (
         |  SELECT symbol, n_days,
         |    nd * (s11d * s22d - s12d * s12d) - s1d * (s1d * s22d - s12d * s2d) + s2d * (s1d * s12d - s11d * s2d) AS det,
         |    syd * (s11d * s22d - s12d * s12d) - s1d * (s1yd * s22d - s12d * s2yd) + s2d * (s1yd * s12d - s11d * s2yd) AS det_a,
         |    nd * (s1yd * s22d - s12d * s2yd) - syd * (s1d * s22d - s12d * s2d) + s2d * (s1d * s2yd - s1yd * s2d) AS det_b1,
         |    nd * (s11d * s2yd - s1yd * s12d) - s1d * (s1d * s2yd - s1yd * s2d) + syd * (s1d * s12d - s11d * s2d) AS det_b2
         |  FROM tf_d)
         |SELECT symbol, n_days,
         |  ${rd("det_b1 / NULLIF(det, 0)", 4)} AS beta_mkt,
         |  ${rd("det_b2 / NULLIF(det, 0)", 4)} AS beta_lag,
         |  ${rd("det_a / NULLIF(det, 0) / 10000.0", 6)} AS alpha_pct
         |FROM tf_c ORDER BY symbol""".stripMargin,

    // mirrors Enrichment.revenueGroupingSets: asymmetric GROUPING SETS
    // ((nation, year), (nation, priority), (year)), per-dimension
    // grouping() flags, exact scale-2 totalprice sums
    "q_grouping_sets" ->
      s"""WITH gs_base AS (
         |  SELECT n_name AS nation,
         |    CAST(year(o_orderdate) AS INTEGER) AS order_year,
         |    o_orderpriority AS priority,
         |    ${sc("o_totalprice", 2)} AS tp2
         |  FROM orders
         |  JOIN customer ON o_custkey = c_custkey
         |  JOIN nation ON c_nationkey = n_nationkey)
         |SELECT nation, order_year, priority,
         |  CAST(GROUPING(nation) AS INTEGER) AS g_nation,
         |  CAST(GROUPING(order_year) AS INTEGER) AS g_year,
         |  CAST(GROUPING(priority) AS INTEGER) AS g_priority,
         |  ${rd("SUM(tp2) / 100.0", 2)} AS revenue,
         |  CAST(COUNT(*) AS BIGINT) AS n_orders
         |FROM gs_base
         |GROUP BY GROUPING SETS ((nation, order_year), (nation, priority), (order_year))
         |ORDER BY g_nation, g_year, g_priority,
         |  nation NULLS FIRST, order_year NULLS FIRST, priority NULLS FIRST""".stripMargin,

    // mirrors TextAnalysis.sparseCosinePairs (df in [2,50], k=50):
    // rare-token postings self-join, exact integer dot products and
    // norms in the capped subspace
    "q_sparse_cosine" ->
      s"""WITH ex AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
         |tf AS (SELECT doc_id AS id, t, CAST(COUNT(*) AS BIGINT) AS tf
         |  FROM ex GROUP BY doc_id, t),
         |rare AS (SELECT t FROM (SELECT t, COUNT(*) AS df FROM tf GROUP BY t)
         |  WHERE df >= 2 AND df <= 50),
         |post AS (SELECT tf.id, tf.t, tf.tf FROM tf JOIN rare USING (t)),
         |norms AS (SELECT id, CAST(SUM(tf * tf) AS BIGINT) AS nn FROM post GROUP BY id),
         |dots AS (
         |  SELECT x.id AS a, y.id AS b, CAST(SUM(x.tf * y.tf) AS BIGINT) AS dot,
         |    CAST(COUNT(*) AS BIGINT) AS n_shared
         |  FROM post x JOIN post y ON x.t = y.t AND x.id < y.id
         |  GROUP BY x.id, y.id)
         |SELECT d.a AS doc_a, d.b AS doc_b, d.n_shared, d.dot,
         |  ${rd("""CAST(d.dot AS DOUBLE) /
         |    NULLIF(sqrt(CAST(na.nn AS DOUBLE)) * sqrt(CAST(nb.nn AS DOUBLE)), 0)""", 4)} AS cosine
         |FROM dots d JOIN norms na ON d.a = na.id JOIN norms nb ON d.b = nb.id
         |ORDER BY cosine DESC, doc_a, doc_b LIMIT 50""".stripMargin,

    // mirrors TextAnalysis.zipfFit (topR=100): per-lang token ranks,
    // ln(rank)/ln(freq) floor-scaled to exact longs before the five
    // regression sums, two final rd(4) divisions
    "q_zipf" ->
      s"""WITH ex AS (SELECT lang, unnest(string_split(text, ' ')) AS t FROM documents),
         |freq AS (SELECT lang, t, CAST(COUNT(*) AS BIGINT) AS freq FROM ex GROUP BY lang, t),
         |ranked AS (
         |  SELECT lang,
         |    ${sc("ln(CAST(rnk AS DOUBLE))", 6)} AS x,
         |    ${sc("ln(CAST(freq AS DOUBLE))", 6)} AS y
         |  FROM (SELECT lang, freq,
         |      ROW_NUMBER() OVER (PARTITION BY lang ORDER BY freq DESC, t ASC) AS rnk
         |    FROM freq)
         |  WHERE rnk <= 100),
         |g AS (
         |  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_terms,
         |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         |    CAST(SUM(x * y) AS BIGINT) AS sxy, CAST(SUM(x * x) AS BIGINT) AS sxx
         |  FROM ranked GROUP BY lang)
         |SELECT lang, n_terms,
         |  ${rd("CAST(n_terms * sxy - sx * sy AS DOUBLE) / NULLIF(CAST(n_terms * sxx - sx * sx AS DOUBLE), 0)", 4)} AS slope,
         |  ${rd("""(CAST(sy AS DOUBLE) / 1000000.0 -
         |    (CAST(n_terms * sxy - sx * sy AS DOUBLE) / NULLIF(CAST(n_terms * sxx - sx * sx AS DOUBLE), 0))
         |    * CAST(sx AS DOUBLE) / 1000000.0) / CAST(n_terms AS DOUBLE)""", 4)} AS intercept
         |FROM g ORDER BY lang""".stripMargin,

    // mirrors TextAnalysis.jsDivergence over source token
    // distributions: corpus-vocab × source grain via LEFT JOIN,
    // pooled per-token JS contribution floor-scaled(12) to an exact
    // long before the per-source sum, absent tokens contribute q
    "q_js_divergence" ->
      s"""WITH tok AS (SELECT source AS grp, unnest(string_split(text, ' ')) AS t FROM documents),
         |gt AS (SELECT grp, CAST(COUNT(*) AS BIGINT) AS n_g FROM tok GROUP BY grp),
         |cq AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS c_q FROM tok GROUP BY t),
         |nq AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_q FROM tok),
         |gc AS (SELECT grp, t, CAST(COUNT(*) AS BIGINT) AS c_p FROM tok GROUP BY grp, t),
         |full0 AS (
         |  SELECT gt.grp, gt.n_g, nq.n_q, cq.c_q, COALESCE(gc.c_p, 0) AS c_p
         |  FROM cq CROSS JOIN nq CROSS JOIN gt
         |  LEFT JOIN gc ON gc.grp = gt.grp AND gc.t = cq.t),
         |c AS (
         |  SELECT grp, c_p,
         |    ${sc(
               """CASE WHEN c_p = 0 THEN CAST(c_q AS DOUBLE) / CAST(n_q AS DOUBLE)
                 |      ELSE (CAST(c_p AS DOUBLE) / CAST(n_g AS DOUBLE))
                 |             * log2(2.0 * (CAST(c_p AS DOUBLE) / CAST(n_g AS DOUBLE))
                 |               / ((CAST(c_p AS DOUBLE) / CAST(n_g AS DOUBLE)) + (CAST(c_q AS DOUBLE) / CAST(n_q AS DOUBLE))))
                 |           + (CAST(c_q AS DOUBLE) / CAST(n_q AS DOUBLE))
                 |             * log2(2.0 * (CAST(c_q AS DOUBLE) / CAST(n_q AS DOUBLE))
                 |               / ((CAST(c_p AS DOUBLE) / CAST(n_g AS DOUBLE)) + (CAST(c_q AS DOUBLE) / CAST(n_q AS DOUBLE))))
                 |      END""".stripMargin, 12)} AS c12
         |  FROM full0)
         |SELECT grp AS source, CAST(COUNT(*) AS BIGINT) AS n_vocab,
         |  CAST(SUM(CASE WHEN c_p > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
         |  ${rd("CAST(SUM(c12) AS DOUBLE) / 2000000000000.0", 6)} AS js_bits
         |FROM c GROUP BY grp ORDER BY source""".stripMargin,

    "q_rrf_fusion" ->
      s"""WITH ex0 AS (
         |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl,
         |    unnest(string_split(text, ' ')) AS t
         |  FROM documents),
         |ex AS (SELECT * FROM ex0 WHERE t IN ('spark', 'vector', 'stream', 'hash')),
         |tf AS (SELECT doc_id, t, CAST(COUNT(*) AS BIGINT) AS tf, MAX(dl) AS dl
         |  FROM ex GROUP BY doc_id, t),
         |dfreq AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY t),
         |stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(CAST(len(string_split(text, ' ')) AS BIGINT)) AS BIGINT) AS sum_dl
         |  FROM documents),
         |s AS (SELECT n_docs, CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE) AS avgdl
         |  FROM stats),
         |bw AS (
         |  SELECT tf.doc_id,
         |    CAST(FLOOR(1000000.0 * (CAST(s.n_docs - d.df AS DOUBLE) + 0.5)
         |      / (CAST(d.df AS DOUBLE) + 0.5)) AS BIGINT)
         |    * CAST(FLOOR(10000.0 * (CAST(tf.tf AS DOUBLE) * (1.2 + 1.0))
         |      / (CAST(tf.tf AS DOUBLE) + 1.2 * ((1.0 - 0.75) + 0.75 * (CAST(tf.dl AS DOUBLE) / s.avgdl)))) AS BIGINT) AS w
         |  FROM tf JOIN dfreq d ON tf.t = d.t CROSS JOIN s),
         |bm AS (SELECT doc_id, CAST(SUM(w) AS BIGINT) AS score FROM bw
         |  GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 20),
         |ti AS (
         |  SELECT tf.doc_id,
         |    CAST(SUM(tf.tf * CAST(FLOOR(s.n_docs * 1000000.0 / d.df) AS BIGINT)) AS BIGINT) AS score
         |  FROM tf JOIN dfreq d ON tf.t = d.t CROSS JOIN s
         |  GROUP BY tf.doc_id ORDER BY score DESC, doc_id LIMIT 20),
         |ranked AS (
         |  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rnk FROM bm
         |  UNION ALL
         |  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rnk FROM ti)
         |SELECT doc_id,
         |  CAST(SUM(CAST(FLOOR(1000000000.0 / (60 + rnk)) AS BIGINT)) AS BIGINT) AS rrf_score,
         |  CAST(COUNT(*) AS BIGINT) AS n_systems,
         |  CAST(MIN(rnk) AS BIGINT) AS best_rank
         |FROM ranked GROUP BY doc_id
         |ORDER BY rrf_score DESC, doc_id LIMIT 20""".stripMargin,

    // mirrors TextAnalysis.hashedLinearScore: weight = (hash60 % 2001)
    // - 1000, exact integer sum per doc (hash60 is non-negative, so %
    // agrees across engines)
    "q_hashed_classifier" ->
      s"""WITH ex AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
         |w AS (SELECT doc_id, (${h60("t")} % 2001) - 1000 AS w FROM ex)
         |SELECT doc_id, CAST(SUM(w) AS BIGINT) AS score, CAST(COUNT(*) AS BIGINT) AS n_tokens,
         |  (CAST(SUM(w) AS BIGINT) > 0) AS keep
         |FROM w GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // mirrors Profiling.calibrationBins over the hashed-classifier
    // score with the en/de label: integer rank binning
    // (r*10 // (n-1)), exact rank sums, identical division trees
    "q_calibration" ->
      s"""WITH ex AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
         |w AS (SELECT doc_id, (${h60("t")} % 2001) - 1000 AS w FROM ex),
         |sc AS (SELECT doc_id, CAST(SUM(w) AS BIGINT) AS score FROM w GROUP BY doc_id),
         |lab AS (
         |  SELECT s.doc_id, s.score,
         |    CASE WHEN d.lang IN ('en', 'de') THEN 1 ELSE 0 END AS pos
         |  FROM sc s JOIN documents d ON s.doc_id = d.doc_id
         |),
         |rk AS (
         |  SELECT doc_id, pos,
         |    CAST(ROW_NUMBER() OVER (ORDER BY score, doc_id) - 1 AS BIGINT) AS r0,
         |    CAST(COUNT(*) OVER () AS BIGINT) AS nn
         |  FROM lab
         |),
         |b AS (
         |  SELECT CAST(LEAST((r0 * 10) // GREATEST(nn - 1, 1), 9) AS INTEGER) AS bin,
         |    r0, pos, nn
         |  FROM rk
         |),
         |g AS (
         |  SELECT bin, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |    CAST(SUM(r0) AS BIGINT) AS sum_r,
         |    CAST(SUM(pos) AS BIGINT) AS n_pos,
         |    CAST(MAX(nn) AS BIGINT) AS nn
         |  FROM b GROUP BY bin
         |)
         |SELECT bin, n_docs,
         |  ${rd("CAST(sum_r AS DOUBLE) / (GREATEST(nn - 1, 1) * n_docs)", 4)} AS mean_p,
         |  ${rd("CAST(n_pos AS DOUBLE) / n_docs", 4)} AS pos_rate,
         |  ${rd("CAST(sum_r AS DOUBLE) / (GREATEST(nn - 1, 1) * n_docs) - CAST(n_pos AS DOUBLE) / n_docs", 4)} AS gap
         |FROM g ORDER BY bin""".stripMargin,

    // mirrors TextAnalysis.bigramCommonness: adjacent-token bigrams
    // (1-based i pairs i,i+1), hashed, corpus counts joined back; docs
    // with < 2 tokens emit no bigrams and drop out (inner join)
    "q_lm_score" ->
      s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
         |bg0 AS (SELECT doc_id,
         |  unnest(list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i + 1])) AS bg
         |  FROM toks),
         |ex AS (SELECT doc_id, ${h60("bg")} AS bh FROM bg0),
         |counts AS (SELECT bh, CAST(COUNT(*) AS BIGINT) AS c FROM ex GROUP BY bh)
         |SELECT e.doc_id, CAST(SUM(c.c) AS BIGINT) AS sum_c, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
         |  CAST(FLOOR(10000.0 * CAST(SUM(c.c) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)) AS BIGINT) AS mean_scaled
         |FROM ex e JOIN counts c ON e.bh = c.bh
         |GROUP BY e.doc_id ORDER BY e.doc_id""".stripMargin,

    // mirrors TextAnalysis.cooccurrenceLift: top-12 vocab by doc freq
    // (doc_freq DESC, token ASC cut), distinct (doc, token) self-join
    // restricted to the vocab, lift = (c_xy·n_docs)/(c_x·c_y) scaled
    "q_cooccurrence" ->
      """WITH ex0 AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
        |exd AS (SELECT DISTINCT doc_id, token FROM ex0),
        |dfreq AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS doc_freq FROM exd GROUP BY token),
        |vocab AS (SELECT token, doc_freq FROM dfreq ORDER BY doc_freq DESC, token ASC LIMIT 12),
        |ex AS (SELECT e.doc_id, e.token, v.doc_freq FROM exd e JOIN vocab v USING (token)),
        |nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
        |pairs AS (
        |  SELECT a.token AS t1, b.token AS t2, CAST(COUNT(*) AS BIGINT) AS c_xy,
        |    MAX(a.doc_freq) AS c_x, MAX(b.doc_freq) AS c_y
        |  FROM ex a JOIN ex b ON a.doc_id = b.doc_id AND a.token < b.token
        |  GROUP BY a.token, b.token
        |  HAVING COUNT(*) >= 2)
        |SELECT t1, t2, c_xy,
        |  CAST(FLOOR(1000000.0 * CAST(c_xy * n_docs AS DOUBLE)
        |    / CAST(c_x * c_y AS DOUBLE)) AS BIGINT) AS lift_scaled
        |FROM pairs CROSS JOIN nd
        |ORDER BY t1, t2""".stripMargin,

    // mirrors TextAnalysis.stripHotShingles (n=3, minDocs=25):
    // positional 3-gram hashes, hot = shared by >= 25 distinct docs,
    // covered 0-based positions start..start+2 removed, text rebuilt
    // in position order
    "q_boilerplate" ->
      s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
         |ex0 AS (SELECT doc_id, unnest(list_transform(tk, (t, i) -> {'pos': i - 1, 'tok': t})) AS u FROM toks),
         |ex AS (SELECT doc_id, u.pos AS pos, u.tok AS tok FROM ex0),
         |sh0 AS (SELECT doc_id, unnest(list_transform(range(1, len(tk) - 1),
         |    i -> {'start': i - 1, 'sh': ${h60("tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2]")}})) AS u
         |  FROM toks WHERE len(tk) >= 3),
         |sh AS (SELECT doc_id, u.start AS start, u.sh AS sh FROM sh0),
         |hot AS (SELECT sh FROM (SELECT DISTINCT doc_id, sh FROM sh) GROUP BY sh HAVING COUNT(*) >= 25),
         |cov0 AS (SELECT s.doc_id, unnest(range(s.start, s.start + 3)) AS pos
         |  FROM sh s JOIN hot h USING (sh)),
         |covered AS (SELECT DISTINCT doc_id, pos FROM cov0),
         |kept AS (SELECT e.doc_id, e.pos, e.tok FROM ex e
         |  WHERE NOT EXISTS (SELECT 1 FROM covered c WHERE c.doc_id = e.doc_id AND c.pos = e.pos)),
         |rebuilt AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS kept_tokens,
         |    string_agg(tok, ' ' ORDER BY pos) AS clean_text
         |  FROM kept GROUP BY doc_id)
         |SELECT d.doc_id, CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
         |  COALESCE(r.kept_tokens, 0) AS kept_tokens,
         |  COALESCE(r.clean_text, '') AS clean_text
         |FROM documents d LEFT JOIN rebuilt r USING (doc_id)
         |ORDER BY doc_id""".stripMargin,

    // mirrors Funcs.normalizeText (global regex replace) + the
    // empty-string token-count guard
    "q_text_normalize" ->
      """WITH n AS (
        |  SELECT doc_id,
        |    trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS norm_text
        |  FROM documents)
        |SELECT doc_id, norm_text, CAST(length(norm_text) AS BIGINT) AS norm_chars,
        |  CASE WHEN length(norm_text) = 0 THEN CAST(0 AS BIGINT)
        |       ELSE CAST(len(string_split(norm_text, ' ')) AS BIGINT) END AS n_tokens
        |FROM n ORDER BY doc_id""".stripMargin,

    // mirrors Graph.pageRankScaled (iters=2, scale=1e12): all integer
    // arithmetic — init rank scale//n, base (3·scale)//(20n), per-edge
    // contribution rank//outdeg, damping (17·in_sum)//20 — unrolled
    // two iterations
    "q_pagerank" ->
      """WITH pairs AS (
        |  SELECT DISTINCT CAST(o_custkey * 2 AS BIGINT) AS a, CAST(l_suppkey * 2 + 1 AS BIGINT) AS b
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |e0 AS (SELECT a AS src, b AS dst FROM pairs UNION ALL SELECT b, a FROM pairs),
        |e AS (SELECT DISTINCT src, dst FROM e0
        |  WHERE src IS NOT NULL AND dst IS NOT NULL AND src <> dst),
        |nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
        |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes),
        |outdeg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS outdeg FROM e GROUP BY src),
        |r0 AS (SELECT id, 1000000000000 // nn.n AS rank FROM nodes CROSS JOIN nn),
        |c1 AS (SELECT e.dst, CAST(SUM(r.rank // o.outdeg) AS BIGINT) AS in_sum
        |  FROM e JOIN r0 r ON e.src = r.id JOIN outdeg o ON e.src = o.src GROUP BY e.dst),
        |r1 AS (SELECT n.id,
        |    (3 * 1000000000000) // (20 * nn.n) + (17 * COALESCE(c1.in_sum, 0)) // 20 AS rank
        |  FROM nodes n CROSS JOIN nn LEFT JOIN c1 ON n.id = c1.dst),
        |c2 AS (SELECT e.dst, CAST(SUM(r.rank // o.outdeg) AS BIGINT) AS in_sum
        |  FROM e JOIN r1 r ON e.src = r.id JOIN outdeg o ON e.src = o.src GROUP BY e.dst),
        |r2 AS (SELECT n.id,
        |    (3 * 1000000000000) // (20 * nn.n) + (17 * COALESCE(c2.in_sum, 0)) // 20 AS rank
        |  FROM nodes n CROSS JOIN nn LEFT JOIN c2 ON n.id = c2.dst)
        |SELECT id, CAST(rank AS BIGINT) AS rank,
        |  CASE WHEN id % 2 = 0 THEN 'customer' ELSE 'supplier' END AS kind,
        |  id // 2 AS entity_id
        |FROM r2 ORDER BY rank DESC, id LIMIT 20""".stripMargin,

    // mirrors Graph.personalizedPageRank over the q_pagerank graph:
    // restart mass pinned to the custkey%100==0 seed cohort, two
    // unrolled integer iterations
    "q_ppr" ->
      """WITH pairs AS (
        |  SELECT DISTINCT CAST(o_custkey * 2 AS BIGINT) AS a, CAST(l_suppkey * 2 + 1 AS BIGINT) AS b
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |e0 AS (SELECT a AS src, b AS dst FROM pairs UNION ALL SELECT b, a FROM pairs),
        |e AS (SELECT DISTINCT src, dst FROM e0
        |  WHERE src IS NOT NULL AND dst IS NOT NULL AND src <> dst),
        |nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
        |seeds AS (SELECT id FROM (
        |    SELECT DISTINCT CAST(o_custkey * 2 AS BIGINT) AS id
        |    FROM orders WHERE o_custkey % 100 = 0) s
        |  WHERE id IN (SELECT id FROM nodes)),
        |ns AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM seeds),
        |outdeg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS outdeg FROM e GROUP BY src),
        |r0 AS (SELECT n.id,
        |    CASE WHEN s.id IS NOT NULL THEN 1000000000000 // ns.n ELSE 0 END AS rank
        |  FROM nodes n CROSS JOIN ns LEFT JOIN seeds s ON n.id = s.id),
        |c1 AS (SELECT e.dst, CAST(SUM(r.rank // o.outdeg) AS BIGINT) AS in_sum
        |  FROM e JOIN r0 r ON e.src = r.id JOIN outdeg o ON e.src = o.src GROUP BY e.dst),
        |r1 AS (SELECT n.id,
        |    CASE WHEN s.id IS NOT NULL THEN (3 * 1000000000000) // (20 * ns.n) ELSE 0 END
        |      + (17 * COALESCE(c1.in_sum, 0)) // 20 AS rank
        |  FROM nodes n CROSS JOIN ns LEFT JOIN seeds s ON n.id = s.id
        |  LEFT JOIN c1 ON n.id = c1.dst),
        |c2 AS (SELECT e.dst, CAST(SUM(r.rank // o.outdeg) AS BIGINT) AS in_sum
        |  FROM e JOIN r1 r ON e.src = r.id JOIN outdeg o ON e.src = o.src GROUP BY e.dst),
        |r2 AS (SELECT n.id,
        |    CASE WHEN s.id IS NOT NULL THEN (3 * 1000000000000) // (20 * ns.n) ELSE 0 END
        |      + (17 * COALESCE(c2.in_sum, 0)) // 20 AS rank
        |  FROM nodes n CROSS JOIN ns LEFT JOIN seeds s ON n.id = s.id
        |  LEFT JOIN c2 ON n.id = c2.dst)
        |SELECT id, CAST(rank AS BIGINT) AS rank,
        |  CASE WHEN id % 2 = 0 THEN 'customer' ELSE 'supplier' END AS kind,
        |  id // 2 AS entity_id
        |FROM r2 ORDER BY rank DESC, id LIMIT 20""".stripMargin,

    // mirrors Layout.compactionPlan over the per-ship-date row counts:
    // bin = running-size-before // 20000, then per-bin rollup
    "q_compaction_plan" ->
      """WITH files AS (SELECT l_shipdate, CAST(COUNT(*) AS BIGINT) AS n_rows
        |  FROM lineitem GROUP BY l_shipdate),
        |p AS (SELECT l_shipdate, n_rows,
        |    CAST(COALESCE(SUM(n_rows) OVER (ORDER BY l_shipdate
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
        |  FROM files),
        |b AS (SELECT *, CAST(cum_before // 20000 AS BIGINT) AS bin FROM p)
        |SELECT bin, CAST(COUNT(*) AS BIGINT) AS n_files, CAST(SUM(n_rows) AS BIGINT) AS total_rows,
        |  MIN(l_shipdate) AS from_date, MAX(l_shipdate) AS to_date
        |FROM b GROUP BY bin ORDER BY bin""".stripMargin,

    // mirrors qSemiAnti: left_semi = EXISTS, left_anti = NOT EXISTS
    // over open orders, rolled up per nation
    "q_semi_anti" ->
      """WITH cust AS (SELECT c_custkey, c_nationkey FROM customer),
        |open_o AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'O'),
        |w AS (SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS n_with_open FROM cust
        |  WHERE EXISTS (SELECT 1 FROM open_o o WHERE o.o_custkey = cust.c_custkey)
        |  GROUP BY c_nationkey),
        |wo AS (SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS n_without_open FROM cust
        |  WHERE NOT EXISTS (SELECT 1 FROM open_o o WHERE o.o_custkey = cust.c_custkey)
        |  GROUP BY c_nationkey)
        |SELECT n.n_name AS nation,
        |  COALESCE(w.n_with_open, 0) AS n_with_open,
        |  COALESCE(wo.n_without_open, 0) AS n_without_open
        |FROM nation n LEFT JOIN w ON n.n_nationkey = w.c_nationkey
        |LEFT JOIN wo ON n.n_nationkey = wo.c_nationkey
        |ORDER BY nation""".stripMargin,

    // mirrors Graph.triangleCounts over the part co-purchase graph:
    // degree-ordered orientation, wedge join at the lowest-ordered
    // apex, closure via EXISTS, per-vertex participation counts
    // mirrors Graph.labelPropagation(2 rounds) + the size rollup: the
    // packed-key argmax equals ROW_NUMBER over (count DESC, label ASC)
    "q_communities" -> {
      def round(prev: String, out: String) =
        s"""$out AS (
           |  SELECT u AS id, label FROM (
           |    SELECT s.u, l.label, COUNT(*) AS c,
           |      ROW_NUMBER() OVER (PARTITION BY s.u
           |        ORDER BY COUNT(*) DESC, l.label ASC) AS rn
           |    FROM sym s JOIN $prev l ON s.v = l.id
           |    GROUP BY s.u, l.label) WHERE rn = 1
           |)""".stripMargin
      s"""WITH pairs AS (
         |  SELECT DISTINCT o_custkey * 2 AS a, l_suppkey * 2 + 1 AS b
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         |),
         |sym AS (SELECT a AS u, b AS v FROM pairs UNION SELECT b, a FROM pairs),
         |l0 AS (SELECT DISTINCT u AS id, u AS label FROM sym),
         |${round("l0", "r1")},
         |${round("r1", "r2")},
         |g AS (
         |  SELECT label AS community, CAST(COUNT(*) AS BIGINT) AS n_members
         |  FROM r2 GROUP BY label
         |)
         |SELECT community, n_members, CAST(rank AS INTEGER) AS rank FROM (
         |  SELECT *, ROW_NUMBER() OVER (ORDER BY n_members DESC, community ASC) AS rank
         |  FROM g) WHERE rank <= 20
         |ORDER BY rank""".stripMargin
    },

    // mirrors Graph.kCore(k=30, rounds=4): the peel rounds UNROLLED —
    // each round recomputes degrees on the surviving subgraph and
    // keeps only edges whose BOTH endpoints clear k
    "q_kcore" -> {
      val k = 30
      val rounds = 4
      val peel = (1 to rounds).map { r =>
        s"""k$r AS (SELECT u FROM e${r - 1} GROUP BY u HAVING COUNT(*) >= $k),
           |e$r AS (
           |  SELECT e.u, e.v FROM e${r - 1} e
           |  JOIN k$r x ON e.u = x.u
           |  JOIN k$r y ON e.v = y.u
           |)""".stripMargin
      }.mkString(",\n")
      s"""WITH pairs AS (
         |  SELECT DISTINCT o_custkey * 2 AS a, l_suppkey * 2 + 1 AS b
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         |),
         |e0 AS (
         |  SELECT a AS u, b AS v FROM pairs
         |  UNION
         |  SELECT b AS u, a AS v FROM pairs
         |),
         |$peel
         |SELECT u AS id, CAST(COUNT(*) AS BIGINT) AS degree,
         |  CASE WHEN u % 2 = 0 THEN 'customer' ELSE 'supplier' END AS kind
         |FROM e$rounds GROUP BY u ORDER BY id""".stripMargin
    },

    // mirrors Graph.hits (iters=2, no per-round normalization): pure
    // integer message passing a=Σh, h=Σa from h0=1 unrolled two
    // rounds (DuckDB SUM(BIGINT) promotes to HUGEINT — the oracle's
    // stand-in for the engine's DECIMAL(38,0) sums), then one final
    // share division rounded to 6 dp
    "q_hits" ->
      s"""WITH e AS (
        |  SELECT DISTINCT CAST(o_custkey * 2 AS BIGINT) AS src,
        |    CAST(l_suppkey * 2 + 1 AS BIGINT) AS dst
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
        |a1 AS (SELECT e.dst AS id, SUM(1) AS a FROM e GROUP BY e.dst),
        |auth1 AS (SELECT n.id, COALESCE(a1.a, 0) AS a
        |  FROM nodes n LEFT JOIN a1 ON n.id = a1.id),
        |h1 AS (SELECT e.src AS id, SUM(x.a) AS h FROM e JOIN auth1 x ON e.dst = x.id
        |  GROUP BY e.src),
        |hub1 AS (SELECT n.id, COALESCE(h1.h, 0) AS h
        |  FROM nodes n LEFT JOIN h1 ON n.id = h1.id),
        |a2 AS (SELECT e.dst AS id, SUM(x.h) AS a FROM e JOIN hub1 x ON e.src = x.id
        |  GROUP BY e.dst),
        |auth2 AS (SELECT n.id, COALESCE(a2.a, 0) AS a
        |  FROM nodes n LEFT JOIN a2 ON n.id = a2.id),
        |h2 AS (SELECT e.src AS id, SUM(x.a) AS h FROM e JOIN auth2 x ON e.dst = x.id
        |  GROUP BY e.src),
        |hub2 AS (SELECT n.id, COALESCE(h2.h, 0) AS h
        |  FROM nodes n LEFT JOIN h2 ON n.id = h2.id),
        |tot AS (SELECT (SELECT SUM(h) FROM hub2) AS th, (SELECT SUM(a) FROM auth2) AS ta)
        |SELECT h.id,
        |  ${rd("CAST(h.h AS DOUBLE) / CAST(t.th AS DOUBLE)", 6)} AS hub_share,
        |  ${rd("CAST(a.a AS DOUBLE) / CAST(t.ta AS DOUBLE)", 6)} AS auth_share,
        |  CASE WHEN h.id % 2 = 0 THEN 'customer' ELSE 'supplier' END AS kind
        |FROM hub2 h JOIN auth2 a ON h.id = a.id CROSS JOIN tot t
        |ORDER BY auth_share DESC, h.id LIMIT 20""".stripMargin,

    // mirrors Graph.adamicAdar (cap=64) over the part co-purchase
    // graph: apex-centered wedges from nodes with 2 <= deg <= cap,
    // per-apex weight FLOOR(1e6/ln(deg)) as an exact long BEFORE the
    // sum, anti join removes already-present edges
    "q_link_predict" ->
      """WITH raw AS (
        |  SELECT u, v FROM (
        |    SELECT a.l_partkey AS u, b.l_partkey AS v, COUNT(*) AS n
        |    FROM lineitem a JOIN lineitem b
        |      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |    GROUP BY a.l_partkey, b.l_partkey)
        |  WHERE n >= 2),
        |und AS (SELECT DISTINCT LEAST(CAST(u AS BIGINT), CAST(v AS BIGINT)) AS u,
        |    GREATEST(CAST(u AS BIGINT), CAST(v AS BIGINT)) AS v FROM raw),
        |sym AS (SELECT u, v FROM und UNION ALL SELECT v, u FROM und),
        |deg AS (SELECT u AS w, CAST(COUNT(*) AS BIGINT) AS deg FROM sym GROUP BY u),
        |apex AS (
        |  SELECT s.u AS w, s.v AS n,
        |    CAST(FLOOR(1000000.0 / ln(CAST(d.deg AS DOUBLE))) AS BIGINT) AS wgt
        |  FROM sym s JOIN deg d ON s.u = d.w
        |  WHERE d.deg <= 64 AND d.deg >= 2),
        |wedges AS (
        |  SELECT x.n AS a, y.n AS b, x.wgt
        |  FROM apex x JOIN apex y ON x.w = y.w AND x.n < y.n),
        |scored AS (
        |  SELECT a AS u, b AS v, CAST(SUM(wgt) AS BIGINT) AS score,
        |    CAST(COUNT(*) AS BIGINT) AS n_common
        |  FROM wedges GROUP BY a, b)
        |SELECT s.u, s.v, s.score, s.n_common FROM scored s
        |WHERE NOT EXISTS (SELECT 1 FROM und e WHERE e.u = s.u AND e.v = s.v)
        |ORDER BY s.score DESC, s.u, s.v LIMIT 50""".stripMargin,

    "q_triangles" ->
      """WITH raw AS (
        |  SELECT u, v FROM (
        |    SELECT a.l_partkey AS u, b.l_partkey AS v, COUNT(*) AS n
        |    FROM lineitem a JOIN lineitem b
        |      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |    GROUP BY a.l_partkey, b.l_partkey)
        |  WHERE n >= 2),
        |und AS (SELECT DISTINCT LEAST(u, v) AS u, GREATEST(u, v) AS v FROM raw),
        |deg AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS deg
        |  FROM (SELECT u AS id FROM und UNION ALL SELECT v AS id FROM und) GROUP BY id),
        |o AS (
        |  SELECT CASE WHEN d1.deg < d2.deg OR (d1.deg = d2.deg AND und.u < und.v)
        |              THEN und.u ELSE und.v END AS a,
        |         CASE WHEN d1.deg < d2.deg OR (d1.deg = d2.deg AND und.u < und.v)
        |              THEN und.v ELSE und.u END AS b
        |  FROM und JOIN deg d1 ON und.u = d1.id JOIN deg d2 ON und.v = d2.id),
        |tri AS (
        |  SELECT e1.a AS a, e1.b AS b, e2.b AS c
        |  FROM o e1 JOIN o e2 ON e1.a = e2.a AND e1.b <> e2.b
        |  WHERE EXISTS (SELECT 1 FROM o o3 WHERE o3.a = e1.b AND o3.b = e2.b)),
        |tv AS (SELECT unnest([a, b, c]) AS id FROM tri)
        |SELECT id, CAST(COUNT(*) AS BIGINT) AS triangles
        |FROM tv GROUP BY id ORDER BY triangles DESC, id LIMIT 100""".stripMargin,

    // mirrors TextAnalysis.ngramLmCounts: unigram counts + distinct
    // successor/predecessor counts per token + scaled KN continuation
    "q_ngram_lm" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |uni AS (SELECT t AS token, CAST(COUNT(*) AS BIGINT) AS c_uni
        |  FROM (SELECT unnest(tk) AS t FROM toks) GROUP BY t),
        |bg0 AS (SELECT unnest(list_transform(range(1, len(tk)),
        |    i -> {'w1': tk[i], 'w2': tk[i + 1]})) AS u FROM toks),
        |bg AS (SELECT u.w1 AS w1, u.w2 AS w2, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM bg0 GROUP BY u.w1, u.w2),
        |succ AS (SELECT w1 AS token, CAST(COUNT(*) AS BIGINT) AS n_succ FROM bg GROUP BY w1),
        |pred AS (SELECT w2 AS token, CAST(COUNT(*) AS BIGINT) AS n_pred FROM bg GROUP BY w2),
        |ty AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_bigram_types FROM bg)
        |SELECT u.token, u.c_uni,
        |  COALESCE(s.n_succ, 0) AS n_succ,
        |  COALESCE(p.n_pred, 0) AS n_pred,
        |  CAST(FLOOR(1000000.0 * CAST(COALESCE(p.n_pred, 0) AS DOUBLE)
        |    / CAST(ty.n_bigram_types AS DOUBLE)) AS BIGINT) AS kn_cont_scaled
        |FROM uni u LEFT JOIN succ s USING (token) LEFT JOIN pred p USING (token)
        |CROSS JOIN ty
        |ORDER BY token""".stripMargin,

    // mirrors TextAnalysis.vocabCoverage: top-8 vocab by doc freq
    // (doc_freq DESC, token ASC cut), per-doc OOV fraction scaled
    "q_vocab_coverage" ->
      """WITH ex0 AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
        |exd AS (SELECT DISTINCT doc_id, token FROM ex0),
        |dfreq AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS doc_freq FROM exd GROUP BY token),
        |vocab AS (SELECT token FROM dfreq ORDER BY doc_freq DESC, token ASC LIMIT 8),
        |j AS (SELECT e.doc_id, CASE WHEN v.token IS NOT NULL THEN 1 ELSE 0 END AS inv
        |  FROM ex0 e LEFT JOIN vocab v ON e.token = v.token)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |  CAST(SUM(inv) AS BIGINT) AS n_in_vocab,
        |  CAST(FLOOR(10000.0 * CAST(COUNT(*) - SUM(inv) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE)) AS BIGINT) AS oov_scaled
        |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // mirrors TextAnalysis.heapsLaw: nested integer prefix cuts
    // (n*p)//100 over doc-id order, exact distinct token strings
    "q_heaps_law" -> {
      def per(p: Int) = {
        val k = s"GREATEST((nd * $p) // 100, 1)"
        s"""SELECT CAST($p AS INTEGER) AS pct,
           |  CAST(MAX($k) AS BIGINT) AS n_docs,
           |  CAST(SUM(CASE WHEN rn <= $k THEN 1 ELSE 0 END) AS BIGINT) AS n_tokens,
           |  CAST(COUNT(DISTINCT CASE WHEN rn <= $k THEN tok END) AS BIGINT) AS vocab
           |FROM ex""".stripMargin
      }
      s"""WITH d AS (
         |  SELECT doc_id, CAST(ROW_NUMBER() OVER (ORDER BY doc_id) AS BIGINT) AS rn,
         |    CAST(COUNT(*) OVER () AS BIGINT) AS nd
         |  FROM documents
         |),
         |ex AS (
         |  SELECT d.rn, d.nd, unnest(string_split(t.text, ' ')) AS tok
         |  FROM documents t JOIN d ON t.doc_id = d.doc_id
         |)
         |${Seq(25, 50, 75, 100).map(per).mkString("\nUNION ALL\n")}
         |ORDER BY pct""".stripMargin
    },

    // mirrors DailyAnalytics.drawdownDuration: gaps-and-islands on
    // cent-scaled closes; run id = cumulative at-peak count; longest
    // run by (len DESC, start ASC); never-underwater symbols keep 0s
    "q_drawdown_duration" ->
      s"""${dailyChain("returns")},
         |base AS (
         |  SELECT symbol, trade_date, ${sc("close_price", 2)} AS cp
         |  FROM returns
         |),
         |u AS (
         |  SELECT symbol, trade_date,
         |    CASE WHEN cp < MAX(cp) OVER w THEN 1 ELSE 0 END AS under
         |  FROM base
         |  WINDOW w AS (PARTITION BY symbol ORDER BY trade_date
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |),
         |r AS (
         |  SELECT symbol, trade_date, under,
         |    SUM(1 - under) OVER (PARTITION BY symbol ORDER BY trade_date
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
         |  FROM u
         |),
         |runs AS (
         |  SELECT symbol, run, CAST(COUNT(*) AS BIGINT) AS len,
         |    MIN(trade_date) AS dd_start, MAX(trade_date) AS dd_end
         |  FROM r WHERE under = 1 GROUP BY symbol, run
         |),
         |longest AS (
         |  SELECT symbol, len, dd_start, dd_end FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY symbol
         |      ORDER BY len DESC, dd_start ASC) AS rk FROM runs) WHERE rk = 1
         |),
         |tot AS (
         |  SELECT symbol, CAST(COUNT(*) AS BIGINT) AS n_days,
         |    CAST(SUM(under) AS BIGINT) AS n_underwater
         |  FROM u GROUP BY symbol
         |)
         |SELECT t.symbol, t.n_days, t.n_underwater,
         |  COALESCE(l.len, 0) AS longest_dd_days, l.dd_start, l.dd_end
         |FROM tot t LEFT JOIN longest l ON t.symbol = l.symbol
         |ORDER BY t.symbol""".stripMargin,

    // mirrors TextAnalysis.rakeKeywords: phrases = maximal runs
    // between the SAME literal stopword list, word score =
    // degree/freq floor-scaled to 6-dp longs BEFORE the phrase sum
    // (order-free integer arithmetic), rank on (score6 DESC, phrase)
    "q_rake_keywords" -> {
      val stops = graft.operators.TextAnalysis.rakeStopwords
        .map(s => s"'$s'").mkString("[", ", ", "]")
      s"""WITH w0 AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         |w AS (SELECT doc_id, unnest(range(1, len(ws) + 1)) AS pos, unnest(ws) AS word FROM w0),
         |w2 AS (SELECT doc_id, pos, word,
         |    (list_contains($stops, word) OR word = '') AS is_stop FROM w),
         |ph AS (
         |  SELECT doc_id, pos, word, phrase_id FROM (
         |    SELECT doc_id, pos, word, is_stop,
         |      SUM(CASE WHEN is_stop THEN 1 ELSE 0 END)
         |        OVER (PARTITION BY doc_id ORDER BY pos) AS phrase_id
         |    FROM w2) WHERE NOT is_stop
         |),
         |phr AS (
         |  SELECT doc_id, phrase_id, CAST(COUNT(*) AS BIGINT) AS phrase_len,
         |    string_agg(word, ' ' ORDER BY pos) AS phrase
         |  FROM ph GROUP BY doc_id, phrase_id
         |),
         |wsc AS (
         |  SELECT p.doc_id, p.word,
         |    ${sc("SUM(r.phrase_len) / CAST(COUNT(*) AS DOUBLE)", 6)} AS w6
         |  FROM ph p JOIN phr r ON p.doc_id = r.doc_id AND p.phrase_id = r.phrase_id
         |  GROUP BY p.doc_id, p.word
         |),
         |psc AS (
         |  SELECT p.doc_id, p.phrase_id, CAST(SUM(w.w6) AS BIGINT) AS score6
         |  FROM ph p JOIN wsc w ON p.doc_id = w.doc_id AND p.word = w.word
         |  GROUP BY p.doc_id, p.phrase_id
         |),
         |ded AS (
         |  SELECT s.doc_id, r.phrase, MAX(s.score6) AS score6,
         |    MAX(r.phrase_len) AS n_words
         |  FROM psc s JOIN phr r ON s.doc_id = r.doc_id AND s.phrase_id = r.phrase_id
         |  GROUP BY s.doc_id, r.phrase
         |),
         |rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
         |    ORDER BY score6 DESC, phrase ASC) AS rank FROM ded)
         |SELECT doc_id, CAST(rank AS INTEGER) AS rank, phrase, n_words,
         |  ${rd("score6 / 1000000.0", 4)} AS score
         |FROM rk WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin
    },

    // mirrors Versioning.snapshotDiff on the two derived order
    // versions: content hash = hash60(concat_ws(0x01, cols)), statuses
    // from the full-outer null/equality pattern
    "q_snapshot_diff" ->
      s"""WITH base AS (SELECT o_orderkey, ${sc("o_totalprice", 2)} AS price_c, o_orderstatus
         |  FROM orders),
         |v1 AS (SELECT o_orderkey,
         |    ${h60("concat_ws(chr(1), CAST(price_c AS VARCHAR), o_orderstatus)")} AS h
         |  FROM base WHERE o_orderkey % 7 <> 0),
         |v2 AS (SELECT o_orderkey,
         |    ${h60("concat_ws(chr(1), CAST(CASE WHEN o_orderkey % 3 = 0 THEN price_c + 100 ELSE price_c END AS VARCHAR), o_orderstatus)")} AS h
         |  FROM base WHERE o_orderkey % 5 <> 0)
         |SELECT COALESCE(v1.o_orderkey, v2.o_orderkey) AS o_orderkey,
         |  CASE WHEN v1.h IS NULL THEN 'added'
         |       WHEN v2.h IS NULL THEN 'removed'
         |       WHEN v1.h <> v2.h THEN 'changed'
         |       ELSE 'unchanged' END AS status
         |FROM v1 FULL OUTER JOIN v2 ON v1.o_orderkey = v2.o_orderkey
         |ORDER BY o_orderkey""".stripMargin,

    // mirrors Similarity.pqTopK (m=32, ksub=16, subDim=2, one Lloyd
    // round): seed codebook = subspace slices of the 16 md5-seeded
    // sample vectors; one ⌊Σ/n⌋ integer-mean update per subspace
    // (empty codes keep their seed); corpus codes by per-subspace
    // argmin L2 (ties by code index); ADC score = sum over subspaces
    // of the query's distance to the CODED centroid (the
    // codes ⋈ query-subdistance join on (s, j=code))
    "q_sim_pq" ->
      s"""WITH $embSql,
         |seeds AS (
         |  SELECT vec_id AS sid, vq AS sq FROM en
         |  ORDER BY ${h60("CAST(vec_id AS VARCHAR)")}, vec_id
         |  LIMIT 16
         |),
         |cent AS (
         |  SELECT sq, CAST(ROW_NUMBER() OVER (ORDER BY sid) - 1 AS BIGINT) AS j FROM seeds
         |),
         |cent0 AS (
         |  SELECT s.s, c.j, list_transform(range(1, 3), k -> c.sq[s.s * 2 + k]) AS cq
         |  FROM cent c CROSS JOIN (SELECT unnest(range(0, 32)) AS s) s
         |),
         |sd0 AS (
         |  SELECT e.vec_id, c.s, c.j,
         |    list_sum(list_transform(range(1, 3), k ->
         |      (e.vq[c.s * 2 + k] - c.cq[k]) * (e.vq[c.s * 2 + k] - c.cq[k]))) AS d
         |  FROM en e CROSS JOIN cent0 c
         |),
         |codes0 AS (
         |  SELECT vec_id, s, j AS code FROM (
         |    SELECT vec_id, s, j, ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY d, j) AS rn
         |    FROM sd0) WHERE rn = 1
         |),
         |comp AS (
         |  SELECT c.s, c.code, ks.k,
         |    CAST(FLOOR(SUM(e.vq[c.s * 2 + ks.k]) / CAST(COUNT(*) AS DOUBLE)) AS BIGINT) AS mn
         |  FROM codes0 c JOIN en e USING (vec_id)
         |  CROSS JOIN (SELECT unnest(range(1, 3)) AS k) ks
         |  GROUP BY c.s, c.code, ks.k
         |),
         |cent1 AS (SELECT s, code AS j, list(mn ORDER BY k) AS cq FROM comp GROUP BY s, code),
         |centf AS (
         |  SELECT c0.s, c0.j, COALESCE(c1.cq, c0.cq) AS cq
         |  FROM cent0 c0 LEFT JOIN cent1 c1 ON c0.s = c1.s AND c0.j = c1.j
         |),
         |subdist AS (
         |  SELECT e.vec_id, c.s, c.j,
         |    list_sum(list_transform(range(1, 3), k ->
         |      (e.vq[c.s * 2 + k] - c.cq[k]) * (e.vq[c.s * 2 + k] - c.cq[k]))) AS d
         |  FROM en e CROSS JOIN centf c
         |),
         |codes AS (
         |  SELECT vec_id, s, j AS code FROM (
         |    SELECT vec_id, s, j, ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY d, j) AS rn
         |    FROM subdist) WHERE rn = 1
         |),
         |score AS (
         |  SELECT qd.vec_id AS query_id, c.vec_id AS corpus_id, CAST(SUM(qd.d) AS BIGINT) AS adc_dist
         |  FROM codes c JOIN subdist qd ON qd.s = c.s AND qd.j = c.code
         |  WHERE qd.vec_id % 50 = 0 AND qd.vec_id < 500 AND qd.vec_id <> c.vec_id
         |  GROUP BY qd.vec_id, c.vec_id
         |),
         |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc_dist, corpus_id) AS rn FROM score)
         |SELECT query_id, corpus_id, adc_dist, CAST(rn AS INTEGER) AS rank
         |FROM r WHERE rn <= 5 ORDER BY query_id, rank""".stripMargin,

    // ((1995 ∩ 1996) − 1997) with explicit nesting — INTERSECT/EXCEPT
    // precedence never consulted
    "q_set_ops" ->
      """WITH y95 AS (SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995),
        |y96 AS (SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996),
        |y97 AS (SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1997),
        |b AS (SELECT o_custkey FROM y95 INTERSECT SELECT o_custkey FROM y96)
        |SELECT o_custkey FROM b EXCEPT SELECT o_custkey FROM y97
        |ORDER BY o_custkey""".stripMargin,

    // n² cancels: DW = n²ΣΔy² / (n²Σy² − n(Σy)²), all HUGEINT
    "q_durbin_watson" ->
      s"""${dailyChain("returns")},
         |b AS (SELECT symbol, trade_date, ${sc4("daily_return_pct")} AS y
         |  FROM returns WHERE daily_return_pct IS NOT NULL),
         |c AS (SELECT symbol, y,
         |    y - LAG(y) OVER (PARTITION BY symbol ORDER BY trade_date) AS dy
         |  FROM b),
         |g AS (SELECT symbol, CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(SUM(y) AS BIGINT) AS sy,
         |    SUM(CAST(dy AS HUGEINT) * dy) AS sdd,
         |    SUM(CAST(y AS HUGEINT) * y) AS syy
         |  FROM c GROUP BY symbol HAVING COUNT(*) >= 30),
         |k AS (SELECT symbol, n,
         |    CAST(CAST(n AS HUGEINT) * n * sdd AS DOUBLE) /
         |      NULLIF(CAST(CAST(n AS HUGEINT) * n * syy
         |                  - CAST(n AS HUGEINT) * sy * sy AS DOUBLE), 0) AS dw
         |  FROM g)
         |SELECT symbol, n AS n_days, ${rd("dw", 4)} AS dw_stat,
         |  dw < 1.5 AS positive_autocorr
         |FROM k ORDER BY symbol""".stripMargin,

    // PAA chunk means compare as truncated scale-4 integers (positive
    // prices ⇒ trunc = floor in both engines); ties impossible past seg
    "q_sax" ->
      s"""${dailyChain("bars")},
         |s AS (SELECT symbol, trade_date, ${sc("close_price", 2)} AS c2,
         |    NTILE(8) OVER (PARTITION BY symbol ORDER BY trade_date) AS seg
         |  FROM bars),
         |g AS (SELECT symbol, seg, CAST(COUNT(*) AS BIGINT) AS n_seg,
         |    CAST(SUM(c2) AS BIGINT) AS sc2
         |  FROM s GROUP BY symbol, seg),
         |m AS (SELECT symbol, seg, n_seg, (sc2 * 100) // n_seg AS mean4 FROM g),
         |l AS (SELECT symbol, seg, n_seg,
         |    NTILE(4) OVER (PARTITION BY symbol ORDER BY mean4, seg) - 1 AS li
         |  FROM m),
         |w AS (SELECT symbol, CAST(SUM(n_seg) AS BIGINT) AS n_days,
         |    string_agg(chr(CAST(97 + li AS INTEGER)), '' ORDER BY seg) AS sax_word
         |  FROM l GROUP BY symbol HAVING SUM(n_seg) >= 30)
         |SELECT symbol, n_days, sax_word FROM w ORDER BY symbol""".stripMargin,

    // rank means divide with TRUNCATING integer division on both
    // sides (DuckDB // == Spark div, toward zero)
    "q_quantile_norm" ->
      s"""${dailyChain("returns")},
         |b AS (SELECT symbol, trade_date, ${sc4("daily_return_pct")} AS y
         |  FROM returns WHERE daily_return_pct IS NOT NULL),
         |r AS (SELECT symbol, trade_date, y,
         |    ROW_NUMBER() OVER (PARTITION BY symbol ORDER BY y, trade_date) AS rnk
         |  FROM b),
         |m AS (SELECT rnk, CAST(COUNT(*) AS BIGINT) AS k,
         |    CAST(SUM(y) AS BIGINT) AS sy FROM r GROUP BY rnk),
         |q AS (SELECT rnk, sy // k AS qn4 FROM m)
         |SELECT symbol, trade_date, CAST(y AS DOUBLE) / 1e4 AS return_pct,
         |  CAST(qn4 AS DOUBLE) / 1e4 AS qn_return_pct
         |FROM r JOIN q USING (rnk) ORDER BY symbol, trade_date""".stripMargin,

    // every ratio rule is an integer cross-multiplication — no FP
    // boundary for the two engines to disagree on
    "q_gopher_rules" ->
      s"""WITH t AS (SELECT doc_id, text,
         |    string_split(text, ' ') AS toks,
         |    string_split(text, chr(10)) AS lns FROM documents),
         |d AS (SELECT doc_id,
         |    CAST(len(toks) AS INTEGER) AS n_words,
         |    CAST((length(text) - (len(toks) - 1)) * 10 AS BIGINT) AS mlen10,
         |    CAST(len(list_filter(toks, w -> contains(w, '#')
         |      OR contains(w, '...'))) AS INTEGER) AS n_symbol_words,
         |    CAST(len(lns) AS INTEGER) AS n_lines,
         |    CAST(len(list_filter(lns, l -> starts_with(l, '•')
         |      OR starts_with(l, '- ') OR starts_with(l, '* '))) AS INTEGER)
         |      AS n_bullet_lines,
         |    CAST(len(list_filter(lns, l -> ends_with(l, '...'))) AS INTEGER)
         |      AS n_ellipsis_lines,
         |    CAST(len(list_filter(toks, w -> regexp_matches(w, '[A-Za-z]')))
         |      AS INTEGER) AS n_alpha_words,
         |    CAST(len(list_filter(${enStopsList},
         |      sw -> list_contains(toks, sw))) AS INTEGER) AS n_stopwords
         |  FROM t),
         |e AS (SELECT doc_id, n_words,
         |    ${rd("CAST(mlen10 AS DOUBLE) / n_words / 10.0", 4)} AS mean_word_len,
         |    n_symbol_words, n_lines, n_bullet_lines, n_ellipsis_lines,
         |    n_alpha_words, n_stopwords,
         |    (n_words >= 50 AND n_words <= 100000) AS ok_word_count,
         |    (mlen10 >= n_words * 30 AND mlen10 <= n_words * 100) AS ok_word_len,
         |    (n_symbol_words * 10 <= n_words) AS ok_symbol_ratio,
         |    (n_bullet_lines * 10 <= n_lines * 9) AS ok_bullets,
         |    (n_ellipsis_lines * 10 <= n_lines * 3) AS ok_ellipsis,
         |    (n_alpha_words * 10 >= n_words * 8) AS ok_alpha,
         |    (n_stopwords >= 2) AS ok_stopwords
         |  FROM d)
         |SELECT *,
         |  CASE WHEN NOT ok_word_count THEN 'word_count'
         |       WHEN NOT ok_word_len THEN 'word_len'
         |       WHEN NOT ok_symbol_ratio THEN 'symbol_ratio'
         |       WHEN NOT ok_bullets THEN 'bullets'
         |       WHEN NOT ok_ellipsis THEN 'ellipsis'
         |       WHEN NOT ok_alpha THEN 'alpha'
         |       WHEN NOT ok_stopwords THEN 'stopwords'
         |       ELSE 'kept' END AS first_fail,
         |  (ok_word_count AND ok_word_len AND ok_symbol_ratio AND ok_bullets
         |    AND ok_ellipsis AND ok_alpha AND ok_stopwords) AS keep
         |FROM e ORDER BY doc_id""".stripMargin,

    // integer Goertzel replayed as a seeded list_reduce: after sample
    // 1 the state is (x₁, 0), exactly the Scala loop's; >> is
    // arithmetic shift on BIGINT in both engines
    "q_audio_goertzel" ->
      s"""WITH pay AS (
         |  SELECT doc_id AS media_id,
         |    md5(text) || md5(text || '1') || md5(text || '2') || md5(text || '3') ||
         |    md5(text || '4') || md5(text || '5') || md5(text || '6') || md5(text || '7') AS hx
         |  FROM documents),
         |sv AS (
         |  SELECT media_id,
         |    list_transform(range(0, 64), i -> (
         |      CASE WHEN ('0x' || substr(hx, CAST(i * 4 + 1 AS INTEGER), 2))::BIGINT
         |                 + 256 * ('0x' || substr(hx, CAST(i * 4 + 3 AS INTEGER), 2))::BIGINT >= 32768
         |           THEN ('0x' || substr(hx, CAST(i * 4 + 1 AS INTEGER), 2))::BIGINT
         |                 + 256 * ('0x' || substr(hx, CAST(i * 4 + 3 AS INTEGER), 2))::BIGINT - 65536
         |           ELSE ('0x' || substr(hx, CAST(i * 4 + 1 AS INTEGER), 2))::BIGINT
         |                 + 256 * ('0x' || substr(hx, CAST(i * 4 + 3 AS INTEGER), 2))::BIGINT
         |      END)) AS xs
         |  FROM pay),
         |st AS (
         |  SELECT media_id, b.k, b.c,
         |    list_reduce(
         |      list_transform(xs, x -> [x, 0::BIGINT]),
         |      (acc, e) -> [e[1] + ((b.c * acc[1]) >> 14) - acc[2], acc[1]]) AS s
         |  FROM sv CROSS JOIN ($goertzelBinsValues) AS b(k, c))
         |SELECT media_id, CAST(k AS INTEGER) AS bin_k,
         |  CAST(64 AS INTEGER) AS n_samples,
         |  CAST(s[1] * s[1] + s[2] * s[2] - ((c * s[1]) >> 14) * s[2] AS BIGINT)
         |    AS power
         |FROM st ORDER BY media_id, bin_k""".stripMargin,

    // mirrors DailyAnalytics.famaMacbeth: full-lookback 20-day momentum
    // signal, per-day cross-sectional OLS slope re-quantized to scale 6,
    // then exact time-series mean/t over the slope series
    "q_fama_macbeth" ->
      s"""${dailyChain("returns")},
         |fb AS (SELECT symbol, trade_date, ${sc4("daily_return_pct")} AS y
         |  FROM returns WHERE daily_return_pct IS NOT NULL),
         |fw AS (SELECT trade_date, y,
         |    CAST(SUM(y) OVER w AS BIGINT) AS x, COUNT(*) OVER w AS nw
         |  FROM fb WINDOW w AS (PARTITION BY symbol ORDER BY trade_date
         |    ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)),
         |fd AS (SELECT trade_date, CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         |    SUM(CAST(x AS HUGEINT) * x) AS sxx, SUM(CAST(x AS HUGEINT) * y) AS sxy
         |  FROM fw WHERE nw = 20 GROUP BY trade_date HAVING COUNT(*) >= 10),
         |fg AS (SELECT CAST(FLOOR(
         |    (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         |    / NULLIF(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE), 0)
         |    * 1000000.0 + 0.5) AS BIGINT) AS g FROM fd),
         |fa AS (SELECT CAST(COUNT(*) AS BIGINT) AS d, CAST(SUM(g) AS BIGINT) AS sg,
         |    SUM(CAST(g AS HUGEINT) * g) AS sgg,
         |    CAST(SUM(CASE WHEN g > 0 THEN 1 ELSE 0 END) AS BIGINT) AS npos
         |  FROM fg WHERE g IS NOT NULL)
         |SELECT d AS n_days,
         |  ${rd("CAST(sg AS DOUBLE) / CAST(d AS DOUBLE) / 1e6", 6)} AS gamma_mean,
         |  ${rd("(CAST(sg AS DOUBLE) / CAST(d AS DOUBLE) / 1e6) / sqrt((CAST(sgg AS DOUBLE) - CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE) / CAST(d AS DOUBLE)) / NULLIF(CAST(d AS DOUBLE) - 1.0, 0) / 1e12 / CAST(d AS DOUBLE))", 4)} AS t_stat,
         |  ${rd("CAST(npos AS DOUBLE) / CAST(d AS DOUBLE)", 4)} AS pct_days_positive
         |FROM fa""".stripMargin,

    // mirrors DailyAnalytics.kpss: integer partial sums T_t = n·P_t −
    // t·Σy (= n·S_t exactly), demeaned autocovariances over u_t =
    // n·y_t − Σy, Bartlett lag-2 long-run variance, η = ΣT²/(n·s2*)
    "q_kpss" ->
      s"""${dailyChain("returns")},
         |kb AS (SELECT symbol, trade_date, ${sc4("daily_return_pct")} AS y
         |  FROM returns WHERE daily_return_pct IS NOT NULL),
         |kw0 AS (SELECT symbol, trade_date, y,
         |    CAST(ROW_NUMBER() OVER w AS BIGINT) AS t,
         |    CAST(SUM(y) OVER (PARTITION BY symbol ORDER BY trade_date
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS p,
         |    CAST(COUNT(*) OVER (PARTITION BY symbol) AS BIGINT) AS n,
         |    CAST(SUM(y) OVER (PARTITION BY symbol) AS BIGINT) AS sy
         |  FROM kb WINDOW w AS (PARTITION BY symbol ORDER BY trade_date)),
         |kw AS (SELECT symbol, y, t, p, n, sy,
         |    LEAD(n * y - sy, 1) OVER w AS u1,
         |    LEAD(n * y - sy, 2) OVER w AS u2
         |  FROM kw0 WINDOW w AS (PARTITION BY symbol ORDER BY trade_date)),
         |kg AS (SELECT symbol, CAST(COUNT(*) AS BIGINT) AS n,
         |    SUM(CAST(n * p - t * sy AS HUGEINT) * (n * p - t * sy)) AS st2,
         |    SUM(CAST(n * y - sy AS HUGEINT) * (n * y - sy)) AS g0,
         |    SUM(CAST(n * y - sy AS HUGEINT) * u1) AS g1,
         |    SUM(CAST(n * y - sy AS HUGEINT) * u2) AS g2
         |  FROM kw GROUP BY symbol HAVING COUNT(*) >= 30),
         |kd AS (SELECT symbol, n, CAST(n AS DOUBLE) AS nd,
         |    CAST(st2 AS DOUBLE) AS st2d,
         |    (3.0 * CAST(g0 AS DOUBLE) + 4.0 * COALESCE(CAST(g1 AS DOUBLE), 0.0)
         |      + 2.0 * COALESCE(CAST(g2 AS DOUBLE), 0.0)) / 3.0 AS s2
         |  FROM kg)
         |SELECT symbol, n AS n_days,
         |  ${rd("st2d / NULLIF(nd * s2, 0)", 4)} AS kpss_stat,
         |  (st2d / NULLIF(nd * s2, 0) < 0.463) AS stationary
         |FROM kd ORDER BY symbol""".stripMargin,

    // mirrors DailyAnalytics.archLm: q_t = y² // 10⁴ on its own lag,
    // LM = n·R² from the five exact moment sums
    "q_arch_lm" ->
      s"""${dailyChain("returns")},
         |ab AS (SELECT symbol, trade_date, ${sc4("daily_return_pct")} AS y
         |  FROM returns WHERE daily_return_pct IS NOT NULL),
         |aq AS (SELECT symbol, trade_date, (y * y) // 10000 AS q FROM ab),
         |al AS (SELECT symbol, q,
         |    LAG(q, 1) OVER (PARTITION BY symbol ORDER BY trade_date) AS x
         |  FROM aq),
         |ag AS (SELECT symbol, CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(q) AS BIGINT) AS sq,
         |    SUM(CAST(x AS HUGEINT) * x) AS sxx,
         |    SUM(CAST(x AS HUGEINT) * q) AS sxq,
         |    SUM(CAST(q AS HUGEINT) * q) AS sqq
         |  FROM al WHERE x IS NOT NULL GROUP BY symbol HAVING COUNT(*) >= 30),
         |ad AS (SELECT symbol, n, CAST(n AS DOUBLE) AS nd,
         |    CAST(sx AS DOUBLE) AS sxd, CAST(sq AS DOUBLE) AS sqd,
         |    CAST(sxx AS DOUBLE) AS sxxd, CAST(sxq AS DOUBLE) AS sxqd,
         |    CAST(sqq AS DOUBLE) AS sqqd
         |  FROM ag),
         |ar AS (SELECT symbol, n, nd,
         |    (nd * sxqd - sxd * sqd) * (nd * sxqd - sxd * sqd)
         |      / NULLIF((nd * sxxd - sxd * sxd) * (nd * sqqd - sqd * sqd), 0) AS r2
         |  FROM ad)
         |SELECT symbol, n AS n_days,
         |  ${rd("r2", 6)} AS r2,
         |  ${rd("nd * r2", 4)} AS lm_stat,
         |  (nd * r2 > 3.8415) AS arch_sig
         |FROM ar ORDER BY symbol""".stripMargin,

    // mirrors DailyAnalytics.permutationEntropy: 3-bit ordinal pattern
    // key over return triples, six exact counts, fixed-order entropy
    // sum; ln(6) injected as the bit-exact Scala double literal
    "q_perm_entropy" -> {
      val terms = Seq(0, 2, 3, 4, 5, 7).map(p =>
        s"CASE WHEN c$p > 0 THEN CAST(c$p AS DOUBLE) / nd * ln(nd / CAST(c$p AS DOUBLE)) ELSE 0.0 END")
        .mkString("(", "\n      + ", ")")
      val cnts = Seq(0, 2, 3, 4, 5, 7).map(p =>
        s"CAST(SUM(CASE WHEN pat = $p THEN 1 ELSE 0 END) AS BIGINT) AS c$p").mkString(",\n    ")
      val ln6 = s"CAST('${math.log(6.0)}' AS DOUBLE)"
      s"""${dailyChain("returns")},
         |pb AS (SELECT symbol, trade_date, ${sc4("daily_return_pct")} AS c
         |  FROM returns WHERE daily_return_pct IS NOT NULL),
         |pl AS (SELECT symbol, c,
         |    LAG(c, 2) OVER w AS a, LAG(c, 1) OVER w AS b
         |  FROM pb WINDOW w AS (PARTITION BY symbol ORDER BY trade_date)),
         |pp AS (SELECT symbol,
         |    (CASE WHEN a <= b THEN 4 ELSE 0 END
         |     + CASE WHEN b <= c THEN 2 ELSE 0 END
         |     + CASE WHEN a <= c THEN 1 ELSE 0 END) AS pat
         |  FROM pl WHERE a IS NOT NULL),
         |pg AS (SELECT symbol, CAST(COUNT(*) AS BIGINT) AS n,
         |    $cnts
         |  FROM pp GROUP BY symbol HAVING COUNT(*) >= 30),
         |pd AS (SELECT *, CAST(n AS DOUBLE) AS nd FROM pg),
         |ph AS (SELECT symbol, n, nd,
         |    $terms AS h,
         |    GREATEST(c0, c2, c3, c4, c5, c7) AS mc
         |  FROM pd)
         |SELECT symbol, n AS n_triples,
         |  ${rd("h", 6)} AS perm_entropy,
         |  ${rd(s"h / $ln6", 6)} AS h_normalized,
         |  ${rd("CAST(mc AS DOUBLE) / nd", 4)} AS max_pattern_share
         |FROM ph ORDER BY symbol""".stripMargin
    },

    // mirrors DailyAnalytics.rollingVwap: exact 20-row Σ close₂·vol /
    // Σ vol band, close deviation, last 100 sessions per symbol
    "q_rolling_vwap" ->
      s"""${dailyChain("bars")},
         |vb AS (SELECT symbol, trade_date, ${sc("close_price", 2)} AS c2, volume
         |  FROM bars),
         |vw AS (SELECT symbol, trade_date, c2,
         |    CAST(SUM(c2 * volume) OVER w AS BIGINT) AS vnum,
         |    CAST(SUM(volume) OVER w AS BIGINT) AS vden,
         |    COUNT(*) OVER w AS nw,
         |    ROW_NUMBER() OVER (PARTITION BY symbol ORDER BY trade_date DESC) AS rnd
         |  FROM vb WINDOW w AS (PARTITION BY symbol ORDER BY trade_date
         |    ROWS BETWEEN 19 PRECEDING AND CURRENT ROW))
         |SELECT symbol, trade_date, vden AS volume_20d,
         |  ${rd("CAST(vnum AS DOUBLE) / CAST(vden AS DOUBLE) / 100.0", 4)} AS vwap_20d,
         |  ${rd("(CAST(c2 AS DOUBLE) - CAST(vnum AS DOUBLE) / CAST(vden AS DOUBLE)) / (CAST(vnum AS DOUBLE) / CAST(vden AS DOUBLE)) * 100.0", 4)} AS dev_pct
         |FROM vw WHERE nw = 20 AND rnd <= 100
         |ORDER BY symbol, trade_date""".stripMargin,

    // mirrors DailyAnalytics.adxFilter: integer Wilder smoothing of
    // the ±DM split, DX at scale 4 (true range cancels), Wilder-
    // smoothed DX as the ADX state — one list_reduce fold per symbol
    "q_adx" -> {
      val spN = "((13 * acc[1]) // 14 + e[1])"
      val smN = "((13 * acc[2]) // 14 + e[2])"
      s"""${dailyChain("bars")},
         |xb AS (SELECT symbol,
         |    list({'h': ${sc("high_price", 2)}, 'l': ${sc("low_price", 2)}}
         |      ORDER BY trade_date) AS hl
         |  FROM bars GROUP BY symbol),
         |xn AS (SELECT symbol, CAST(len(hl) AS BIGINT) AS n_days,
         |    list_transform(hl, e -> e.h) AS hs,
         |    list_transform(hl, e -> e.l) AS ls
         |  FROM xb WHERE len(hl) >= 30),
         |xd AS (SELECT symbol, n_days,
         |    list_transform(range(2, CAST(len(hs) AS BIGINT) + 1), i -> [
         |      CASE WHEN hs[i] - hs[i-1] > ls[i-1] - ls[i]
         |            AND hs[i] - hs[i-1] > 0
         |           THEN hs[i] - hs[i-1] ELSE 0::BIGINT END,
         |      CASE WHEN ls[i-1] - ls[i] > hs[i] - hs[i-1]
         |            AND ls[i-1] - ls[i] > 0
         |           THEN ls[i-1] - ls[i] ELSE 0::BIGINT END,
         |      0::BIGINT]) AS dms
         |  FROM xn),
         |xs AS (SELECT symbol, n_days,
         |    list_reduce(list_prepend([0::BIGINT, 0::BIGINT, 0::BIGINT], dms),
         |      (acc, e) -> [$spN, $smN,
         |        (13 * acc[3]) // 14 +
         |          CASE WHEN $spN + $smN > 0
         |               THEN (1000000 * abs($spN - $smN)) // ($spN + $smN)
         |               ELSE 0::BIGINT END]) AS st
         |  FROM xd)
         |SELECT symbol, n_days,
         |  st[1] AS smoothed_dm_plus, st[2] AS smoothed_dm_minus,
         |  ${rd("100.0 * CAST(abs(st[1] - st[2]) AS DOUBLE) / NULLIF(CAST(st[1] + st[2] AS DOUBLE), 0)", 4)} AS dx_last,
         |  ${rd("CAST(st[3] AS DOUBLE) / 10000.0 / 14.0", 4)} AS adx
         |FROM xs ORDER BY symbol""".stripMargin
    },

    // mirrors Graph.bfsHops over the q_triangles co-purchase edge CTE:
    // 4 unrolled min-hop relaxation rounds from the 8 smallest ids,
    // hop histogram + the hops = −1 unreached row
    "q_bfs_hops" -> {
      def step(k: Int) =
        s"""bh_d$k AS (SELECT id, MIN(hops) AS hops FROM (
           |    SELECT id, hops FROM bh_d${k - 1}
           |    UNION ALL
           |    SELECT e.v AS id, d.hops + 1 AS hops
           |    FROM bh_d${k - 1} d JOIN bh_und e ON e.u = d.id)
           |  GROUP BY id)""".stripMargin
      s"""WITH bh_raw AS (
         |  SELECT u, v FROM (
         |    SELECT a.l_partkey AS u, b.l_partkey AS v, COUNT(*) AS n
         |    FROM lineitem a JOIN lineitem b
         |      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
         |    GROUP BY a.l_partkey, b.l_partkey)
         |  WHERE n >= 2),
         |bh_und AS (SELECT DISTINCT u, v FROM (
         |    SELECT u, v FROM bh_raw UNION ALL SELECT v AS u, u AS v FROM bh_raw)),
         |bh_nodes AS (SELECT DISTINCT u AS id FROM bh_und),
         |bh_seeds AS (SELECT id FROM bh_nodes ORDER BY id LIMIT 8),
         |bh_d0 AS (SELECT id, CAST(0 AS BIGINT) AS hops FROM bh_seeds),
         |${step(1)},
         |${step(2)},
         |${step(3)},
         |${step(4)}
         |SELECT CAST(hops AS BIGINT) AS hops, CAST(COUNT(*) AS BIGINT) AS n_nodes
         |FROM bh_d4 GROUP BY hops
         |UNION ALL
         |SELECT CAST(-1 AS BIGINT) AS hops, CAST(COUNT(*) AS BIGINT) AS n_nodes
         |FROM bh_nodes n WHERE NOT EXISTS (SELECT 1 FROM bh_d4 d WHERE d.id = n.id)
         |HAVING COUNT(*) > 0
         |ORDER BY hops""".stripMargin
    },

    // mirrors Multimodal.histogramEqualize over the q_box_filter
    // raster CTE: 16-bin histogram, windowed CDF, the classic integer
    // remap, per-image checksum + contrast-stretch gain
    "q_image_histeq" ->
      s"""WITH pay AS (
         |  SELECT doc_id AS media_id,
         |    md5(text) || md5(text || '1') || md5(text || '2') || md5(text || '3') AS hx
         |  FROM documents),
         |px AS (SELECT media_id, u.y AS y, u.x AS x, u.v AS v FROM (
         |  SELECT media_id, unnest(list_transform(range(0, 64), i ->
         |    {'y': i // 8, 'x': i % 8,
         |     'v': ('0x' || substr(hx, CAST(i * 2 + 1 AS INTEGER), 2))::BIGINT})) AS u
         |  FROM pay)),
         |hb AS (SELECT media_id, y, x, v, v // 16 AS bin FROM px),
         |hh AS (SELECT media_id, bin, CAST(COUNT(*) AS BIGINT) AS c
         |  FROM hb GROUP BY media_id, bin),
         |hc AS (SELECT media_id, bin, c,
         |    CAST(SUM(c) OVER (PARTITION BY media_id ORDER BY bin
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cdf
         |  FROM hh),
         |hm AS (SELECT media_id, bin, cdf,
         |    MIN(CASE WHEN c > 0 THEN cdf END) OVER (PARTITION BY media_id) AS cdf_min
         |  FROM hc),
         |hr AS (SELECT b.media_id, b.y, b.x, b.v,
         |    CASE WHEN 64 > m.cdf_min
         |         THEN ((m.cdf - m.cdf_min) * 255) // (64 - m.cdf_min)
         |         ELSE 0 END AS nv
         |  FROM hb b JOIN hm m ON m.media_id = b.media_id AND m.bin = b.bin)
         |SELECT media_id, CAST(COUNT(*) AS BIGINT) AS n_px,
         |  CAST(SUM(nv * (y * 8 + x + 1)) AS BIGINT) AS checksum,
         |  CAST(MIN(nv) AS BIGINT) AS nv_min, CAST(MAX(nv) AS BIGINT) AS nv_max,
         |  CAST((MAX(nv) - MIN(nv)) - (MAX(v) - MIN(v)) AS BIGINT) AS stretch_gain
         |FROM hr GROUP BY media_id ORDER BY media_id""".stripMargin,

    // mirrors Multimodal.resamplePcm over the shared audio sample CTE:
    // pair-average 2:1 decimation with truncating //, exact output
    // energy / position checksum / peak per frame
    "q_audio_resample" ->
      s"""${audioSvCte(withRate = false)},
         |rs AS (SELECT media_id, frame_idx,
         |    list_transform(range(0, 8), j -> (xs[CAST(2 * j + 1 AS INTEGER)]
         |      + xs[CAST(2 * j + 2 AS INTEGER)]) // 2) AS os
         |  FROM sv)
         |SELECT media_id, CAST(frame_idx AS INTEGER) AS frame_idx,
         |  CAST(8 AS INTEGER) AS n_out,
         |  CAST(list_sum(list_transform(os, o -> o * o)) AS BIGINT) AS energy_out,
         |  CAST(list_sum(list_transform(range(0, 8), j ->
         |    os[CAST(j + 1 AS INTEGER)] * (j + 1))) AS BIGINT) AS checksum,
         |  CAST(list_max(list_transform(os, o -> abs(o))) AS INTEGER) AS peak_out
         |FROM rs ORDER BY media_id, frame_idx""".stripMargin,

    // mirrors Multimodal.otsuThreshold over the shared raster CTE:
    // exact integer cumulatives, one double division per candidate,
    // argmax with lowest-bin tie-break
    "q_image_otsu" ->
      s"""WITH pay AS (
         |  SELECT doc_id AS media_id,
         |    md5(text) || md5(text || '1') || md5(text || '2') || md5(text || '3') AS hx
         |  FROM documents),
         |px AS (SELECT media_id, u.y AS y, u.x AS x, u.v AS v FROM (
         |  SELECT media_id, unnest(list_transform(range(0, 64), i ->
         |    {'y': i // 8, 'x': i % 8,
         |     'v': ('0x' || substr(hx, CAST(i * 2 + 1 AS INTEGER), 2))::BIGINT})) AS u
         |  FROM pay)),
         |ob AS (SELECT media_id, v, v // 16 AS bin FROM px),
         |oh AS (SELECT media_id, bin, CAST(COUNT(*) AS BIGINT) AS c,
         |    CAST(SUM(v) AS BIGINT) AS s
         |  FROM ob GROUP BY media_id, bin),
         |oc AS (SELECT media_id, bin,
         |    CAST(SUM(c) OVER wb AS BIGINT) AS w0,
         |    CAST(SUM(s) OVER wb AS BIGINT) AS s0,
         |    CAST(SUM(s) OVER (PARTITION BY media_id) AS BIGINT) AS stot
         |  FROM oh WINDOW wb AS (PARTITION BY media_id ORDER BY bin
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         |og AS (SELECT media_id, bin, w0,
         |    CAST((s0 * 64 - stot * w0) * (s0 * 64 - stot * w0) AS DOUBLE)
         |      / (CAST(w0 * (64 - w0) AS DOUBLE) * 4096.0) AS sigma
         |  FROM oc WHERE w0 > 0 AND w0 < 64),
         |ork AS (SELECT media_id, bin, w0, sigma,
         |    ROW_NUMBER() OVER (PARTITION BY media_id
         |      ORDER BY sigma DESC, bin ASC) AS rn
         |  FROM og)
         |SELECT media_id, CAST(bin AS BIGINT) AS thr_bin,
         |  CAST((bin + 1) * 16 AS BIGINT) AS thr_value,
         |  CAST(w0 AS BIGINT) AS n_bg, CAST(64 - w0 AS BIGINT) AS n_fg,
         |  ${rd("sigma", 4)} AS between_var
         |FROM ork WHERE rn = 1 ORDER BY media_id""".stripMargin,

    // mirrors Multimodal.morphology3x3: v >= 128 mask, separable 3x3
    // neighborhood count via two window sums, interior-only rollup
    "q_image_morphology" ->
      s"""WITH pay AS (
         |  SELECT doc_id AS media_id,
         |    md5(text) || md5(text || '1') || md5(text || '2') || md5(text || '3') AS hx
         |  FROM documents),
         |px AS (SELECT media_id, u.y AS y, u.x AS x, u.v AS v FROM (
         |  SELECT media_id, unnest(list_transform(range(0, 64), i ->
         |    {'y': i // 8, 'x': i % 8,
         |     'v': ('0x' || substr(hx, CAST(i * 2 + 1 AS INTEGER), 2))::BIGINT})) AS u
         |  FROM pay)),
         |mf AS (SELECT media_id, y, x,
         |    CASE WHEN v >= 128 THEN 1::BIGINT ELSE 0::BIGINT END AS f
         |  FROM px),
         |mr AS (SELECT media_id, y, x, f,
         |    CAST(SUM(f) OVER (PARTITION BY media_id, y ORDER BY x
         |      ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS BIGINT) AS r3
         |  FROM mf),
         |mn AS (SELECT media_id, y, x, f,
         |    CAST(SUM(r3) OVER (PARTITION BY media_id, x ORDER BY y
         |      ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS BIGINT) AS n9
         |  FROM mr),
         |mi AS (SELECT * FROM mn
         |  WHERE x >= 1 AND x <= 6 AND y >= 1 AND y <= 6)
         |SELECT media_id, CAST(COUNT(*) AS BIGINT) AS n_interior,
         |  CAST(SUM(f) AS BIGINT) AS n_fg,
         |  CAST(SUM(CASE WHEN n9 = 9 THEN 1 ELSE 0 END) AS BIGINT) AS n_erode,
         |  CAST(SUM(CASE WHEN n9 >= 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dilate,
         |  CAST(SUM(CASE WHEN n9 >= 1 THEN 1 ELSE 0 END)
         |    - SUM(CASE WHEN n9 = 9 THEN 1 ELSE 0 END) AS BIGINT) AS gradient_px,
         |  CAST(SUM(CASE WHEN n9 = 9 THEN y * 8 + x + 1 ELSE 0 END) AS BIGINT)
         |    AS erode_checksum,
         |  CAST(SUM(CASE WHEN n9 >= 1 THEN y * 8 + x + 1 ELSE 0 END) AS BIGINT)
         |    AS dilate_checksum
         |FROM mi GROUP BY media_id ORDER BY media_id""".stripMargin,

    // mirrors Multimodal.zcrFrames over the shared audio sample CTE:
    // sign-class flips (v >= 0 non-negative, zero positive) + exact
    // sum of |v| per frame
    "q_audio_zcr" ->
      s"""${audioSvCte(withRate = false)}
         |SELECT media_id, CAST(frame_idx AS INTEGER) AS frame_idx,
         |  CAST(16 AS INTEGER) AS n_samples,
         |  CAST(list_sum(list_transform(range(2, 17), i ->
         |    CASE WHEN (xs[i] >= 0) <> (xs[i - 1] >= 0) THEN 1 ELSE 0 END))
         |    AS INTEGER) AS crossings,
         |  CAST(list_sum(list_transform(xs, v -> abs(v))) AS BIGINT) AS sum_abs
         |FROM sv ORDER BY media_id, frame_idx""".stripMargin,

    // mirrors DailyAnalytics.kyleLambda: signed dollar volume regressor,
    // HUGEINT moment sums (the dimsonBeta rule), one double tree per
    // output
    "q_kyle_lambda" ->
      s"""${dailyChain("returns")},
         |kb AS (SELECT symbol,
         |    ${sc("daily_return_pct", 4)} AS y,
         |    (CASE WHEN daily_return_pct < 0 THEN -1 ELSE 1 END)
         |      * volume * ${sc("close_price", 2)} AS x
         |  FROM returns WHERE daily_return_pct IS NOT NULL),
         |kg AS (SELECT symbol, CAST(COUNT(*) AS BIGINT) AS n_days,
         |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         |    SUM(CAST(x AS HUGEINT) * y) AS sxy,
         |    SUM(CAST(x AS HUGEINT) * x) AS sxx,
         |    SUM(CAST(y AS HUGEINT) * y) AS syy
         |  FROM kb GROUP BY symbol HAVING COUNT(*) >= 30)
         |SELECT symbol, n_days,
         |  ${rd("CAST(n_days * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE) / NULLIF(CAST(n_days * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE), 0) * 10000.0", 6)} AS lambda_per_musd,
         |  ${rd("CAST(n_days * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE) / NULLIF(sqrt(CAST(n_days * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE) * CAST(n_days * syy - CAST(sy AS HUGEINT) * sy AS DOUBLE)), 0)", 6)} AS flow_corr
         |FROM kg ORDER BY symbol""".stripMargin,

    // mirrors DailyAnalytics.holtWinters: 9-slot integer list_reduce
    // (level, trend, rotating 5-slot seasonal queue, SAE, n) with
    // truncating //; simplified seeds l0 = mean of first five closes
    "q_holt_winters" -> {
      val sOld = "acc[3]"
      val lNew = s"(30 * (e[1] - $sOld) + 70 * (acc[1] + acc[2])) // 100"
      val bNew = s"(10 * (($lNew) - acc[1]) + 90 * acc[2]) // 100"
      val sNew = s"(20 * (e[1] - ($lNew)) + 80 * $sOld) // 100"
      val l0 = "((ys[1] + ys[2] + ys[3] + ys[4] + ys[5]) // 5)"
      s"""${dailyChain("bars")},
         |hg AS (SELECT symbol,
         |    list(${sc("close_price", 2)} ORDER BY trade_date) AS ys
         |  FROM bars GROUP BY symbol),
         |hn AS (SELECT symbol, CAST(len(ys) AS BIGINT) AS n_days, ys
         |  FROM hg WHERE len(ys) >= 40),
         |hf AS (SELECT symbol, n_days,
         |    list_reduce(
         |      list_prepend([$l0, 0::BIGINT,
         |          ys[1] - $l0, ys[2] - $l0, ys[3] - $l0,
         |          ys[4] - $l0, ys[5] - $l0, 0::BIGINT, 5::BIGINT],
         |        list_transform(ys[6:], y -> [y, 0::BIGINT, 0::BIGINT,
         |          0::BIGINT, 0::BIGINT, 0::BIGINT, 0::BIGINT,
         |          0::BIGINT, 0::BIGINT])),
         |      (acc, e) -> [$lNew, $bNew,
         |        acc[4], acc[5], acc[6], acc[7],
         |        $sNew,
         |        acc[8] + abs(e[1] - (acc[1] + acc[2] + $sOld)),
         |        acc[9] + 1]) AS st
         |  FROM hn)
         |SELECT symbol, n_days,
         |  ${rd("CAST(st[1] AS DOUBLE) / 100.0", 2)} AS level,
         |  ${rd("CAST(st[2] AS DOUBLE) / 100.0", 4)} AS trend_per_day,
         |  ${rd("CAST(greatest(st[3], st[4], st[5], st[6], st[7]) AS DOUBLE) / 100.0 - CAST(least(st[3], st[4], st[5], st[6], st[7]) AS DOUBLE) / 100.0", 2)} AS seasonal_amplitude,
         |  ${rd("CAST(st[1] + st[2] + st[3] AS DOUBLE) / 100.0", 2)} AS forecast_1d,
         |  ${rd("CAST(st[8] AS DOUBLE) / 100.0 / CAST(n_days - 5 AS DOUBLE)", 4)} AS one_step_mae
         |FROM hf ORDER BY symbol""".stripMargin
    },

    // mirrors Graph.closenessSample over the q_bfs_hops co-purchase
    // edge CTEs: 4 unrolled min-hop rounds with the SEED carried in
    // the state grain; harmonic sums exact scale-12 1/d longs
    "q_closeness" -> {
      def step(k: Int) =
        s"""cl_d$k AS (SELECT seed, id, MIN(hops) AS hops FROM (
           |    SELECT seed, id, hops FROM cl_d${k - 1}
           |    UNION ALL
           |    SELECT d.seed, e.v AS id, d.hops + 1 AS hops
           |    FROM cl_d${k - 1} d JOIN bh_und e ON e.u = d.id)
           |  GROUP BY seed, id)""".stripMargin
      s"""WITH bh_raw AS (
         |  SELECT u, v FROM (
         |    SELECT a.l_partkey AS u, b.l_partkey AS v, COUNT(*) AS n
         |    FROM lineitem a JOIN lineitem b
         |      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
         |    GROUP BY a.l_partkey, b.l_partkey)
         |  WHERE n >= 2),
         |bh_und AS (SELECT DISTINCT u, v FROM (
         |    SELECT u, v FROM bh_raw UNION ALL SELECT v AS u, u AS v FROM bh_raw)),
         |bh_nodes AS (SELECT DISTINCT u AS id FROM bh_und),
         |cl_seeds AS (SELECT id FROM bh_nodes ORDER BY id LIMIT 8),
         |cl_d0 AS (SELECT id AS seed, id, CAST(0 AS BIGINT) AS hops FROM cl_seeds),
         |${step(1)},
         |${step(2)},
         |${step(3)},
         |${step(4)},
         |cl_g AS (SELECT seed, CAST(COUNT(*) AS BIGINT) AS n_reached,
         |    CAST(SUM(hops) AS BIGINT) AS sum_hops,
         |    CAST(SUM(1000000000000 // hops) AS BIGINT) AS h12
         |  FROM cl_d4 WHERE hops > 0 GROUP BY seed)
         |SELECT CAST(seed AS BIGINT) AS seed, n_reached, sum_hops,
         |  ${rd("CAST(n_reached AS DOUBLE) / CAST(sum_hops AS DOUBLE)", 6)} AS closeness,
         |  ${rd("CAST(h12 AS DOUBLE) / 1000000000000.0", 6)} AS harmonic
         |FROM cl_g ORDER BY seed""".stripMargin
    },

    // mirrors TextAnalysis.textRank: length-filtered adjacency graph,
    // two unrolled exact-integer weighted-PageRank iterations at
    // scale 1e9 (the q_pagerank // discipline), top 20
    "q_textrank" ->
      s"""WITH tr_tk AS (
         |  SELECT list_filter(string_split(text, ' '),
         |    t -> length(t) >= 4) AS tk FROM documents),
         |tr_bg AS (SELECT unnest(list_transform(range(1, len(tk)),
         |    i -> {'w1': least(tk[i], tk[i + 1]),
         |          'w2': greatest(tk[i], tk[i + 1])})) AS u FROM tr_tk),
         |tr_p AS (SELECT u.w1 AS w1, u.w2 AS w2, CAST(COUNT(*) AS BIGINT) AS w
         |  FROM tr_bg WHERE u.w1 <> u.w2 GROUP BY u.w1, u.w2
         |  HAVING COUNT(*) >= 2),
         |tr_e AS (SELECT w1 AS src, w2 AS dst, w FROM tr_p
         |  UNION ALL SELECT w2, w1, w FROM tr_p),
         |tr_d AS (SELECT src, CAST(SUM(w) AS BIGINT) AS wdeg,
         |    CAST(COUNT(*) AS BIGINT) AS n_neighbors
         |  FROM tr_e GROUP BY src),
         |tr_r0 AS (SELECT src AS id, CAST(1000000000 AS BIGINT) AS rank FROM tr_d),
         |tr_c1 AS (SELECT e.dst, CAST(SUM((r.rank // d.wdeg) * e.w) AS BIGINT) AS in_sum
         |  FROM tr_e e JOIN tr_r0 r ON r.id = e.src
         |  JOIN tr_d d ON d.src = e.src GROUP BY e.dst),
         |tr_r1 AS (SELECT d.src AS id,
         |    CAST(150000000 + (17 * COALESCE(c.in_sum, 0)) // 20 AS BIGINT) AS rank
         |  FROM tr_d d LEFT JOIN tr_c1 c ON c.dst = d.src),
         |tr_c2 AS (SELECT e.dst, CAST(SUM((r.rank // d.wdeg) * e.w) AS BIGINT) AS in_sum
         |  FROM tr_e e JOIN tr_r1 r ON r.id = e.src
         |  JOIN tr_d d ON d.src = e.src GROUP BY e.dst),
         |tr_r2 AS (SELECT d.src AS id,
         |    CAST(150000000 + (17 * COALESCE(c.in_sum, 0)) // 20 AS BIGINT) AS rank
         |  FROM tr_d d LEFT JOIN tr_c2 c ON c.dst = d.src),
         |tr_f AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY r.rank DESC, r.id ASC)
         |      AS INTEGER) AS rank_pos,
         |    r.id AS word, r.rank AS score, d.wdeg, d.n_neighbors
         |  FROM tr_r2 r JOIN tr_d d ON d.src = r.id)
         |SELECT rank_pos, word, score, wdeg, n_neighbors
         |FROM tr_f WHERE rank_pos <= 20 ORDER BY rank_pos""".stripMargin,

    // mirrors Profiling.cramersV over region x (mktsegment,
    // orderpriority): full-grid chi^2 with HUGEINT cell squares and
    // scale-9 quantized contributions (the jsDivergence device)
    "q_cramers_v" ->
      s"""WITH cv_b AS (
         |  SELECT r_name AS grp, c_mktsegment AS a, o_orderpriority AS b
         |  FROM orders
         |  JOIN customer ON o_custkey = c_custkey
         |  JOIN nation ON c_nationkey = n_nationkey
         |  JOIN region ON n_regionkey = r_regionkey),
         |cv_cells AS (SELECT grp, a, b, CAST(COUNT(*) AS BIGINT) AS o
         |  FROM cv_b GROUP BY grp, a, b),
         |cv_ra AS (SELECT grp, a, CAST(COUNT(*) AS BIGINT) AS na
         |  FROM cv_b GROUP BY grp, a),
         |cv_cb AS (SELECT grp, b, CAST(COUNT(*) AS BIGINT) AS nb
         |  FROM cv_b GROUP BY grp, b),
         |cv_tot AS (SELECT grp, CAST(COUNT(*) AS BIGINT) AS n
         |  FROM cv_b GROUP BY grp),
         |cv_grid AS (SELECT ra.grp, ra.na, cb.nb, t.n, COALESCE(c.o, 0) AS o
         |  FROM cv_ra ra
         |  JOIN cv_cb cb ON cb.grp = ra.grp
         |  JOIN cv_tot t ON t.grp = ra.grp
         |  LEFT JOIN cv_cells c ON c.grp = ra.grp AND c.a = ra.a AND c.b = cb.b),
         |cv_q AS (SELECT grp, n,
         |    ${sc("CAST((CAST(o AS HUGEINT) * n - CAST(na AS HUGEINT) * nb) * (CAST(o AS HUGEINT) * n - CAST(na AS HUGEINT) * nb) AS DOUBLE) / CAST(CAST(n AS HUGEINT) * na * nb AS DOUBLE)", 9)} AS c9
         |  FROM cv_grid),
         |cv_g AS (SELECT grp, MAX(n) AS n, CAST(SUM(c9) AS BIGINT) AS chi9
         |  FROM cv_q GROUP BY grp),
         |cv_r AS (SELECT grp, CAST(COUNT(*) AS BIGINT) AS r FROM cv_ra GROUP BY grp),
         |cv_c AS (SELECT grp, CAST(COUNT(*) AS BIGINT) AS c FROM cv_cb GROUP BY grp)
         |SELECT g.grp AS region, CAST(g.n AS BIGINT) AS n,
         |  r.r AS n_levels_a, c.c AS n_levels_b,
         |  ${rd("CAST(g.chi9 AS DOUBLE) / 1000000000.0", 4)} AS chi2,
         |  ${rd("sqrt(CAST(g.chi9 AS DOUBLE) / 1000000000.0 / NULLIF(CAST(g.n * least(r.r - 1, c.c - 1) AS DOUBLE), 0))", 6)} AS cramers_v
         |FROM cv_g g
         |JOIN cv_r r ON r.grp = g.grp
         |JOIN cv_c c ON c.grp = g.grp
         |ORDER BY region""".stripMargin,

    // mirrors TickAnalytics.vpin: tick-rule sign with LAST_VALUE
    // IGNORE NULLS carry (flat prefix defaults buy), 50-trade buckets,
    // mean |buy − sell| over full buckets
    "q_vpin" ->
      s"""WITH vt AS (SELECT event_type AS symbol, ts, event_id,
         |    ${sc("value", 2)} AS pfp FROM events),
         |vw AS (SELECT symbol, ts, event_id, pfp,
         |    ROW_NUMBER() OVER w AS rn,
         |    pfp - LAG(pfp, 1) OVER w AS dp
         |  FROM vt WINDOW w AS (PARTITION BY symbol ORDER BY ts, event_id)),
         |vs AS (SELECT symbol, rn,
         |    COALESCE(LAST_VALUE(
         |        CASE WHEN dp > 0 THEN 1 WHEN dp < 0 THEN -1 END IGNORE NULLS)
         |      OVER (PARTITION BY symbol ORDER BY ts, event_id
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 1) AS sgn
         |  FROM vw),
         |vb AS (SELECT symbol, (rn - 1) // 50 AS bucket,
         |    CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(SUM(CASE WHEN sgn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS buys,
         |    CAST(SUM(CASE WHEN sgn = -1 THEN 1 ELSE 0 END) AS BIGINT) AS sells
         |  FROM vs GROUP BY symbol, (rn - 1) // 50
         |  HAVING COUNT(*) = 50)
         |SELECT symbol, CAST(COUNT(*) AS BIGINT) AS n_buckets,
         |  CAST(SUM(abs(buys - sells)) AS BIGINT) AS sum_imbalance,
         |  CAST(MAX(abs(buys - sells)) AS BIGINT) AS max_imbalance,
         |  ${rd("CAST(SUM(abs(buys - sells)) AS DOUBLE) / CAST(COUNT(*) * 50 AS DOUBLE)", 6)} AS vpin
         |FROM vb GROUP BY symbol ORDER BY symbol""".stripMargin,

    // mirrors Cohorts.entropyRate: bigram rollup on the (ts, event_id)
    // user order, per-cell scale-12 quantized entropy terms
    "q_entropy_rate" ->
      s"""WITH er_sq AS (SELECT event_type AS cur,
         |    LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
         |  FROM events),
         |er_t AS (SELECT cur, nxt, CAST(COUNT(*) AS BIGINT) AS nij
         |  FROM er_sq WHERE nxt IS NOT NULL GROUP BY cur, nxt),
         |er_r AS (SELECT cur, CAST(SUM(nij) AS BIGINT) AS ni FROM er_t GROUP BY cur),
         |er_n AS (SELECT CAST(SUM(nij) AS BIGINT) AS nn FROM er_t),
         |er_c AS (SELECT t.cur, r.ni, n.nn,
         |    ${sc("CAST(t.nij AS DOUBLE) / CAST(r.ni AS DOUBLE) * log2(CAST(r.ni AS DOUBLE) / CAST(t.nij AS DOUBLE))", 12)} AS h12,
         |    ${sc("CAST(t.nij AS DOUBLE) / CAST(n.nn AS DOUBLE) * log2(CAST(r.ni AS DOUBLE) / CAST(t.nij AS DOUBLE))", 12)} AS r12
         |  FROM er_t t JOIN er_r r ON r.cur = t.cur CROSS JOIN er_n n)
         |SELECT cur AS state, CAST(COUNT(*) AS BIGINT) AS n_next_states,
         |  CAST(MAX(ni) AS BIGINT) AS n_out,
         |  ${rd("CAST(MAX(ni) AS DOUBLE) / CAST(MAX(nn) AS DOUBLE)", 6)} AS pi,
         |  ${rd("CAST(SUM(h12) AS DOUBLE) / 1000000000000.0", 6)} AS h_bits,
         |  ${rd("CAST(SUM(r12) AS DOUBLE) / 1000000000000.0", 6)} AS rate_contrib_bits
         |FROM er_c GROUP BY cur ORDER BY state""".stripMargin,

    // mirrors TextAnalysis.qlmTopK: Dirichlet-smoothed query
    // likelihood (mu = 2000) on the candidate x query-term grid,
    // scale-9 quantized cell scores
    "q_qlm_dirichlet" ->
      s"""WITH qd AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
         |qe AS (SELECT doc_id, dl, t FROM (
         |    SELECT doc_id, CAST(len(tk) AS BIGINT) AS dl, unnest(tk) AS t FROM qd)
         |  WHERE t IN ('spark', 'vector', 'stream', 'hash')),
         |qtf AS (SELECT doc_id, t, CAST(COUNT(*) AS BIGINT) AS tf,
         |    CAST(MAX(dl) AS BIGINT) AS dl
         |  FROM qe GROUP BY doc_id, t),
         |qctf AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS ctf
         |  FROM (SELECT unnest(tk) AS t FROM qd)
         |  WHERE t IN ('spark', 'vector', 'stream', 'hash') GROUP BY t),
         |qct AS (SELECT CAST(SUM(len(tk)) AS BIGINT) AS ctot FROM qd),
         |qcand AS (SELECT doc_id, CAST(MAX(dl) AS BIGINT) AS dl
         |  FROM qtf GROUP BY doc_id),
         |qgrid AS (SELECT c.doc_id, c.dl, f.t, f.ctf, qct.ctot,
         |    COALESCE(x.tf, 0) AS tf
         |  FROM qcand c CROSS JOIN qctf f CROSS JOIN qct
         |  LEFT JOIN qtf x ON x.doc_id = c.doc_id AND x.t = f.t),
         |qsc AS (SELECT doc_id,
         |    ${sc("ln((CAST(tf AS DOUBLE) + 2000.0 * CAST(ctf AS DOUBLE) / CAST(ctot AS DOUBLE)) / (CAST(dl AS DOUBLE) + 2000.0))", 9)} AS c9,
         |    CASE WHEN tf > 0 THEN 1 ELSE 0 END AS m
         |  FROM qgrid),
         |qagg AS (SELECT doc_id, CAST(SUM(c9) AS BIGINT) AS score9,
         |    CAST(SUM(m) AS BIGINT) AS n_matched
         |  FROM qsc GROUP BY doc_id),
         |qrk AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY score9 DESC, doc_id ASC)
         |      AS INTEGER) AS rank, doc_id, n_matched, score9
         |  FROM qagg)
         |SELECT rank, doc_id, n_matched,
         |  ${rd("CAST(score9 AS DOUBLE) / 1000000000.0", 6)} AS qlm_score
         |FROM qrk WHERE rank <= 20 ORDER BY rank""".stripMargin,

    // mirrors DailyAnalytics.hhiConcentration: HHI = exact HUGEINT
    // sum-of-squares over exact squared total, one double division
    "q_hhi" ->
      s"""${dailyChain("bars")}
         |SELECT trade_date, CAST(COUNT(*) AS BIGINT) AS n_symbols,
         |  CAST(SUM(volume) AS BIGINT) AS total_volume,
         |  ${rd("CAST(SUM(CAST(volume AS HUGEINT) * volume) AS DOUBLE) / CAST(CAST(SUM(volume) AS HUGEINT) * SUM(volume) AS DOUBLE)", 6)} AS hhi,
         |  ${rd("CAST(MAX(volume) AS DOUBLE) / CAST(SUM(volume) AS DOUBLE)", 4)} AS top_share
         |FROM bars GROUP BY trade_date ORDER BY trade_date""".stripMargin,

    // mirrors Profiling.theilInequality over customer order totals:
    // scale-12/scale-9 quantized r*ln r / ln r contributions (the
    // jsDivergence device), fixed double index trees
    "q_theil_inequality" ->
      s"""WITH ti_per AS (SELECT o_custkey AS k,
         |    CAST(SUM(${sc("o_totalprice", 2)}) AS BIGINT) AS x
         |  FROM orders GROUP BY o_custkey),
         |ti_tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(SUM(x) AS BIGINT) AS sx FROM ti_per WHERE x > 0),
         |ti_ex AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_excluded
         |  FROM ti_per WHERE NOT (x > 0)),
         |ti_c AS (SELECT n, sx,
         |    ${sc("(CAST(x AS DOUBLE) * CAST(n AS DOUBLE) / CAST(sx AS DOUBLE)) * ln(CAST(x AS DOUBLE) * CAST(n AS DOUBLE) / CAST(sx AS DOUBLE))", 12)} AS t12,
         |    ${sc("ln(CAST(x AS DOUBLE) * CAST(n AS DOUBLE) / CAST(sx AS DOUBLE))", 9)} AS l9
         |  FROM ti_per CROSS JOIN ti_tot WHERE x > 0),
         |ti_g AS (SELECT MAX(n) AS n, MAX(sx) AS sx,
         |    CAST(SUM(t12) AS BIGINT) AS st, CAST(SUM(l9) AS BIGINT) AS sl
         |  FROM ti_c)
         |SELECT n AS n_keys,
         |  (SELECT n_excluded FROM ti_ex) AS n_excluded,
         |  sx AS total_cents,
         |  ${rd("CAST(st AS DOUBLE) / CAST(n AS DOUBLE) / 1000000000000.0", 6)} AS theil_t,
         |  ${rd("-(CAST(sl AS DOUBLE)) / CAST(n AS DOUBLE) / 1000000000.0", 6)} AS mld,
         |  ${rd("1.0 - exp(CAST(sl AS DOUBLE) / CAST(n AS DOUBLE) / 1000000000.0)", 6)} AS atkinson_1
         |FROM ti_g""".stripMargin,

    // mirrors DailyAnalytics.maseSeasonalNaive: naive-1 vs 5-day
    // seasonal-naive SAE over the shared scored window, exact longs
    "q_mase_seasonal" ->
      s"""${dailyChain("bars")},
         |ms_b AS (SELECT symbol, trade_date, ${sc("close_price", 2)} AS y
         |  FROM bars),
         |ms_l AS (SELECT symbol, y,
         |    LAG(y, 1) OVER w AS l1, LAG(y, 5) OVER w AS ls
         |  FROM ms_b WINDOW w AS (PARTITION BY symbol ORDER BY trade_date)),
         |ms_g AS (SELECT symbol, CAST(COUNT(*) AS BIGINT) AS n_scored,
         |    CAST(SUM(ABS(y - l1)) AS BIGINT) AS sae1,
         |    CAST(SUM(ABS(y - ls)) AS BIGINT) AS saes
         |  FROM ms_l WHERE ls IS NOT NULL GROUP BY symbol)
         |SELECT symbol, n_scored,
         |  ${rd("CAST(sae1 AS DOUBLE) / CAST(n_scored AS DOUBLE) / 100.0", 4)} AS mae_naive,
         |  ${rd("CAST(saes AS DOUBLE) / CAST(n_scored AS DOUBLE) / 100.0", 4)} AS mae_seasonal,
         |  ${rd("CAST(sae1 AS DOUBLE) / NULLIF(CAST(saes AS DOUBLE), 0)", 6)} AS mase
         |FROM ms_g WHERE n_scored >= 30 ORDER BY symbol""".stripMargin,

    // mirrors TickAnalytics.tickImpactPanel: 50-trade buckets, net
    // move vs total variation, cross-bucket deltas excluded, full
    // buckets only (the vpin contract)
    "q_tick_impact" ->
      s"""WITH tp_t AS (SELECT event_type AS symbol, ts, event_id,
         |    ${sc("value", 2)} AS pfp FROM events),
         |tp_w AS (SELECT symbol, pfp, ROW_NUMBER() OVER w AS rn,
         |    pfp - LAG(pfp, 1) OVER w AS dp
         |  FROM tp_t WINDOW w AS (PARTITION BY symbol ORDER BY ts, event_id)),
         |tp_b AS (SELECT symbol, (rn - 1) // 50 AS bucket,
         |    CAST(COUNT(*) AS BIGINT) AS n,
         |    MIN_BY(pfp, rn) AS p_first, MAX_BY(pfp, rn) AS p_last,
         |    CAST(SUM(CASE WHEN (rn - 1) % 50 = 0 THEN 0 ELSE ABS(dp) END) AS BIGINT) AS tv
         |  FROM tp_w GROUP BY symbol, (rn - 1) // 50),
         |tp_g AS (SELECT symbol, CAST(COUNT(*) AS BIGINT) AS n_buckets,
         |    CAST(SUM(ABS(p_last - p_first)) AS BIGINT) AS si,
         |    CAST(SUM(tv) AS BIGINT) AS stv
         |  FROM tp_b WHERE n = 50 GROUP BY symbol)
         |SELECT symbol, n_buckets,
         |  ${rd("CAST(si AS DOUBLE) / CAST(n_buckets AS DOUBLE) / 100.0", 4)} AS mean_impact,
         |  ${rd("CAST(stv AS DOUBLE) / CAST(n_buckets AS DOUBLE) / 100.0", 4)} AS mean_total_variation,
         |  ${rd("CAST(si AS DOUBLE) / NULLIF(CAST(stv AS DOUBLE), 0)", 6)} AS impact_efficiency
         |FROM tp_g ORDER BY symbol""".stripMargin,

    // mirrors Sampling.reservoirFixedK: bottom-100 events by id hash
    // — the hash IS the random tape, so LIMIT is deterministic
    "q_reservoir_sample" ->
      s"""WITH rs AS (SELECT event_id, user_id, event_type,
         |    ${h60("CAST(event_id AS VARCHAR)")} AS h
         |  FROM events)
         |SELECT event_id, user_id, event_type, h
         |FROM rs ORDER BY h, event_id LIMIT 100""".stripMargin,

    // mirrors DailyAnalytics.corwinSchultz: per-pair spread as one
    // double tree quantized scale-9, order-free symbol mean
    "q_corwin_schultz" ->
      s"""${dailyChain("bars")},
         |cs_b AS (SELECT symbol, trade_date, ${sc("high_price", 2)} AS h,
         |    ${sc("low_price", 2)} AS l FROM bars),
         |cs_l AS (SELECT symbol, h, l,
         |    LEAD(h, 1) OVER w AS h2, LEAD(l, 1) OVER w AS l2
         |  FROM cs_b WHERE l > 0
         |  WINDOW w AS (PARTITION BY symbol ORDER BY trade_date)),
         |cs_m AS (SELECT symbol,
         |    ln(CAST(h AS DOUBLE) / CAST(l AS DOUBLE)) * ln(CAST(h AS DOUBLE) / CAST(l AS DOUBLE))
         |      + ln(CAST(h2 AS DOUBLE) / CAST(l2 AS DOUBLE)) * ln(CAST(h2 AS DOUBLE) / CAST(l2 AS DOUBLE)) AS b,
         |    ln(CAST(GREATEST(h, h2) AS DOUBLE) / CAST(LEAST(l, l2) AS DOUBLE))
         |      * ln(CAST(GREATEST(h, h2) AS DOUBLE) / CAST(LEAST(l, l2) AS DOUBLE)) AS g
         |  FROM cs_l WHERE h2 IS NOT NULL),
         |cs_a AS (SELECT symbol,
         |    (sqrt(2.0 * b) - sqrt(b)) / (3.0 - 2.0 * sqrt(2.0))
         |      - sqrt(g / (3.0 - 2.0 * sqrt(2.0))) AS a
         |  FROM cs_m),
         |cs_p AS (SELECT symbol,
         |    ${sc("2.0 * (exp(a) - 1.0) / (1.0 + exp(a))", 9)} AS s9
         |  FROM cs_a),
         |cs_g AS (SELECT symbol, CAST(COUNT(*) AS BIGINT) AS n_pairs,
         |    CAST(SUM(s9) AS BIGINT) AS ss,
         |    CAST(SUM(CASE WHEN s9 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS npos
         |  FROM cs_p GROUP BY symbol)
         |SELECT symbol, n_pairs,
         |  ${rd("CAST(ss AS DOUBLE) / CAST(n_pairs AS DOUBLE) / 1000000000.0 * 100.0", 4)} AS cs_spread_pct,
         |  ${rd("CAST(npos AS DOUBLE) / CAST(n_pairs AS DOUBLE)", 4)} AS pct_positive
         |FROM cs_g WHERE n_pairs >= 30 ORDER BY symbol""".stripMargin,

    // mirrors Cohorts.cochranQ: per-user presence marks across the k
    // event types, HUGEINT moment squares, all-integer 5% gate
    // (chi^2_4 x 10^4 = 94877), NULLed when k differs from 5
    "q_cochran_q" ->
      s"""WITH cq_x AS (SELECT DISTINCT user_id AS uid, event_type AS t
         |  FROM events WHERE user_id IS NOT NULL AND event_type IS NOT NULL),
         |cq_c AS (SELECT CAST(COUNT(*) AS BIGINT) AS k,
         |    CAST(SUM(c) AS BIGINT) AS n, SUM(CAST(c AS HUGEINT) * c) AS sc2
         |  FROM (SELECT t, CAST(COUNT(*) AS BIGINT) AS c FROM cq_x GROUP BY t)),
         |cq_r AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
         |    SUM(CAST(r AS HUGEINT) * r) AS sr2
         |  FROM (SELECT uid, CAST(COUNT(*) AS BIGINT) AS r FROM cq_x GROUP BY uid))
         |SELECT n_users, k AS k_treatments, n AS n_marks,
         |  ${rd("CAST(CAST(k - 1 AS HUGEINT) * (CAST(k AS HUGEINT) * sc2 - CAST(n AS HUGEINT) * n) AS DOUBLE) / NULLIF(CAST(CAST(k AS HUGEINT) * n - sr2 AS DOUBLE), 0)", 4)} AS q,
         |  CASE WHEN k = 5 THEN
         |    CAST(k - 1 AS HUGEINT) * (CAST(k AS HUGEINT) * sc2 - CAST(n AS HUGEINT) * n) * 10000
         |      > (CAST(k AS HUGEINT) * n - sr2) * 94877
         |  ELSE NULL END AS significant
         |FROM cq_c CROSS JOIN cq_r""".stripMargin,

    // mirrors DailyAnalytics.friedmanDow: truncating-mean scale-4
    // block values, total-order ranks, all-integer gate; DuckDB
    // dayofweek is 0-based (Sunday 0) vs Spark's 1-based, so +1
    // aligns Page's L weights
    "q_friedman" ->
      s"""${dailyChain("returns")},
         |fr_c AS (SELECT symbol, dayofweek(trade_date) + 1 AS dow,
         |    CAST(COUNT(*) AS BIGINT) AS ng,
         |    CAST(SUM(${sc4("daily_return_pct")}) AS BIGINT) AS sy
         |  FROM returns WHERE daily_return_pct IS NOT NULL
         |  GROUP BY symbol, dayofweek(trade_date) + 1),
         |fr_m AS (SELECT symbol, dow, sy // ng AS m FROM fr_c),
         |fr_k AS (SELECT CAST(COUNT(DISTINCT dow) AS BIGINT) AS k FROM fr_m),
         |fr_q AS (SELECT symbol, dow, m,
         |    COUNT(*) OVER (PARTITION BY symbol) AS ndow FROM fr_m),
         |fr_r AS (SELECT symbol, dow,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY symbol ORDER BY m, dow) AS BIGINT) AS rnk
         |  FROM fr_q CROSS JOIN fr_k WHERE ndow = k),
         |fr_j AS (SELECT dow, CAST(SUM(rnk) AS BIGINT) AS rj FROM fr_r GROUP BY dow),
         |fr_n AS (SELECT CAST(COUNT(DISTINCT symbol) AS BIGINT) AS n FROM fr_r),
         |fr_g AS (SELECT SUM(CAST(rj AS HUGEINT) * rj) AS sr2,
         |    CAST(SUM(dow * rj) AS BIGINT) AS page_l FROM fr_j)
         |SELECT n AS n_blocks, k AS k_treatments,
         |  CAST(sr2 AS BIGINT) AS sum_r2, page_l,
         |  ${rd("12.0 * CAST(sr2 AS DOUBLE) / NULLIF(CAST(n AS DOUBLE) * CAST(k AS DOUBLE) * (CAST(k AS DOUBLE) + 1.0), 0) - 3.0 * CAST(n AS DOUBLE) * (CAST(k AS DOUBLE) + 1.0)", 4)} AS chi2_f,
         |  CASE WHEN k = 7 THEN
         |    CAST(120000 AS HUGEINT) * sr2
         |      - CAST(30000 AS HUGEINT) * n * n * (k * (k + 1) * (k + 1))
         |      > CAST(125916 AS HUGEINT) * n * (k * (k + 1))
         |  ELSE NULL END AS significant
         |FROM fr_g CROSS JOIN fr_k CROSS JOIN fr_n""".stripMargin,

    // mirrors Profiling.mutualInfo over the q_cramers_v grid: scale-12
    // quantized p*ln contributions over OCCUPIED cells + margin
    // entropies, fixed MI/H/NMI trees
    "q_mutual_info" ->
      s"""WITH mi_b AS (
         |  SELECT r_name AS grp, c_mktsegment AS a, o_orderpriority AS b
         |  FROM orders
         |  JOIN customer ON o_custkey = c_custkey
         |  JOIN nation ON c_nationkey = n_nationkey
         |  JOIN region ON n_regionkey = r_regionkey),
         |mi_cells AS (SELECT grp, a, b, CAST(COUNT(*) AS BIGINT) AS c
         |  FROM mi_b GROUP BY grp, a, b),
         |mi_ra AS (SELECT grp, a, CAST(COUNT(*) AS BIGINT) AS na
         |  FROM mi_b GROUP BY grp, a),
         |mi_cb AS (SELECT grp, b, CAST(COUNT(*) AS BIGINT) AS nb
         |  FROM mi_b GROUP BY grp, b),
         |mi_tot AS (SELECT grp, CAST(COUNT(*) AS BIGINT) AS nn
         |  FROM mi_b GROUP BY grp),
         |mi_m AS (SELECT grp, CAST(COUNT(*) AS BIGINT) AS n_cells,
         |    CAST(SUM(m12) AS BIGINT) AS mi12
         |  FROM (SELECT c.grp,
         |      ${sc("CAST(c AS DOUBLE) / CAST(nn AS DOUBLE) * ln(CAST(c AS DOUBLE) * CAST(nn AS DOUBLE) / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)))", 12)} AS m12
         |    FROM mi_cells c
         |    JOIN mi_ra USING (grp, a) JOIN mi_cb USING (grp, b)
         |    JOIN mi_tot USING (grp))
         |  GROUP BY grp),
         |mi_ha AS (SELECT grp, CAST(SUM(h12) AS BIGINT) AS ha12
         |  FROM (SELECT mi_ra.grp,
         |      ${sc("-(CAST(na AS DOUBLE) / CAST(nn AS DOUBLE)) * ln(CAST(na AS DOUBLE) / CAST(nn AS DOUBLE))", 12)} AS h12
         |    FROM mi_ra JOIN mi_tot USING (grp))
         |  GROUP BY grp),
         |mi_hb AS (SELECT grp, CAST(SUM(h12) AS BIGINT) AS hb12
         |  FROM (SELECT mi_cb.grp,
         |      ${sc("-(CAST(nb AS DOUBLE) / CAST(nn AS DOUBLE)) * ln(CAST(nb AS DOUBLE) / CAST(nn AS DOUBLE))", 12)} AS h12
         |    FROM mi_cb JOIN mi_tot USING (grp))
         |  GROUP BY grp)
         |SELECT m.grp AS region, nn AS n, n_cells,
         |  ${rd("CAST(mi12 AS DOUBLE) / 1000000000000.0", 6)} AS mi_nats,
         |  ${rd("CAST(ha12 AS DOUBLE) / 1000000000000.0", 6)} AS h_a,
         |  ${rd("CAST(hb12 AS DOUBLE) / 1000000000000.0", 6)} AS h_b,
         |  ${rd("2.0 * CAST(mi12 AS DOUBLE) / NULLIF(CAST(ha12 + hb12 AS DOUBLE), 0)", 6)} AS nmi
         |FROM mi_m m
         |JOIN mi_ha USING (grp) JOIN mi_hb USING (grp) JOIN mi_tot USING (grp)
         |ORDER BY region""".stripMargin,

    // mirrors Graph.richClub over the co-purchase graph: fixed degree
    // ladder, one explode per edge/node, one double tree per rung
    "q_rich_club" ->
      s"""WITH raw AS (
         |  SELECT u, v FROM (
         |    SELECT a.l_partkey AS u, b.l_partkey AS v, COUNT(*) AS n
         |    FROM lineitem a JOIN lineitem b
         |      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
         |    GROUP BY a.l_partkey, b.l_partkey)
         |  WHERE n >= 2),
         |rc_u AS (SELECT DISTINCT LEAST(u, v) AS u, GREATEST(u, v) AS v FROM raw),
         |rc_d AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS deg
         |  FROM (SELECT u AS id FROM rc_u UNION ALL SELECT v AS id FROM rc_u)
         |  GROUP BY id),
         |rc_k AS (SELECT unnest([2, 4, 8, 16]) AS k),
         |rc_n AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS n_nodes
         |  FROM rc_d CROSS JOIN rc_k WHERE deg > k GROUP BY k),
         |rc_e AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS n_edges
         |  FROM rc_u e JOIN rc_d du ON e.u = du.id
         |  JOIN rc_d dv ON e.v = dv.id CROSS JOIN rc_k
         |  WHERE du.deg > k AND dv.deg > k GROUP BY k)
         |SELECT CAST(r.k AS BIGINT) AS k,
         |  COALESCE(n.n_nodes, 0) AS n_nodes,
         |  COALESCE(e.n_edges, 0) AS n_edges,
         |  ${rd("2.0 * CAST(COALESCE(e.n_edges, 0) AS DOUBLE) / NULLIF(CAST(COALESCE(n.n_nodes, 0) * (COALESCE(n.n_nodes, 0) - 1) AS DOUBLE), 0)", 6)} AS phi
         |FROM rc_k r LEFT JOIN rc_n n USING (k) LEFT JOIN rc_e e USING (k)
         |ORDER BY k""".stripMargin,

    // mirrors TickAnalytics.interarrivalFit: exact nanosecond gaps
    // (epoch_ns — the data's sub-microsecond bits are zero, so this
    // equals Spark's raw nanos long), MLE rate, two-sided KS step
    "q_interarrival" ->
      s"""WITH ia_t AS (SELECT event_type AS symbol, epoch_ns(ts) AS tns, event_id
         |  FROM events),
         |ia_g AS (SELECT symbol, event_id,
         |    tns - LAG(tns, 1) OVER w AS dt
         |  FROM ia_t WINDOW w AS (PARTITION BY symbol ORDER BY tns, event_id)),
         |ia_f AS (SELECT symbol, event_id, dt FROM ia_g
         |  WHERE dt IS NOT NULL AND dt >= 0),
         |ia_r AS (SELECT symbol, CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(SUM(dt) AS BIGINT) AS sdt
         |  FROM ia_f GROUP BY symbol),
         |ia_k AS (SELECT f.symbol, f.dt, r.n, r.sdt,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY f.symbol ORDER BY f.dt, f.event_id) AS BIGINT) AS i
         |  FROM ia_f f JOIN ia_r r ON r.symbol = f.symbol AND r.n >= 30),
         |ia_d AS (SELECT symbol, n, sdt,
         |    GREATEST(
         |      ABS(CAST(i AS DOUBLE) / CAST(n AS DOUBLE)
         |        - (1.0 - exp(-(CAST(n AS DOUBLE) / NULLIF(CAST(sdt AS DOUBLE), 0)) * CAST(dt AS DOUBLE)))),
         |      ABS(CAST(i - 1 AS DOUBLE) / CAST(n AS DOUBLE)
         |        - (1.0 - exp(-(CAST(n AS DOUBLE) / NULLIF(CAST(sdt AS DOUBLE), 0)) * CAST(dt AS DOUBLE))))) AS kst
         |  FROM ia_k),
         |ia_x AS (SELECT symbol, MAX(n) AS n, MAX(sdt) AS sdt, MAX(kst) AS d
         |  FROM ia_d GROUP BY symbol)
         |SELECT symbol, n AS n_gaps,
         |  ${rd("CAST(sdt AS DOUBLE) / CAST(n AS DOUBLE) / 1000000000.0", 4)} AS mean_gap_sec,
         |  ${rd("CAST(n AS DOUBLE) / NULLIF(CAST(sdt AS DOUBLE) / 1000000000.0, 0)", 6)} AS lambda_per_sec,
         |  ${rd("d", 6)} AS ks_d,
         |  d < 1.358 / sqrt(CAST(n AS DOUBLE)) AS exponential_ok
         |FROM ia_x ORDER BY symbol""".stripMargin,

    // mirrors Graph.kTruss(k=3, rounds=2) over the co-purchase graph:
    // two unrolled support-and-peel rounds + one final support pass,
    // each via the q_triangles degree-oriented enumeration
    "q_ktruss" ->
      s"""WITH raw AS (
         |  SELECT u, v FROM (
         |    SELECT a.l_partkey AS u, b.l_partkey AS v, COUNT(*) AS n
         |    FROM lineitem a JOIN lineitem b
         |      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
         |    GROUP BY a.l_partkey, b.l_partkey)
         |  WHERE n >= 2),
         |kt0 AS MATERIALIZED (
         |  SELECT DISTINCT LEAST(u, v) AS u, GREATEST(u, v) AS v FROM raw),
         |${ktSupportSql("kt0", "kts1")},
         |kt1 AS MATERIALIZED (SELECT kt0.u, kt0.v FROM kt0
         |  LEFT JOIN kts1 USING (u, v) WHERE COALESCE(support, 0) >= 1),
         |${ktSupportSql("kt1", "kts2")},
         |kt2 AS MATERIALIZED (SELECT kt1.u, kt1.v FROM kt1
         |  LEFT JOIN kts2 USING (u, v) WHERE COALESCE(support, 0) >= 1),
         |${ktSupportSql("kt2", "kts3")}
         |SELECT kt2.u, kt2.v, COALESCE(kts3.support, 0) AS support
         |FROM kt2 LEFT JOIN kts3 USING (u, v)
         |ORDER BY u, v""".stripMargin,

    // mirrors Dedup.paragraphDedup over the 12-token-chunk
    // re-paragraphing: hash60 paragraph keys, one occurrence rollup,
    // duplicated = corpus-wide count >= 2 (within-doc repeats count)
    "q_dedup_paragraph" ->
      s"""WITH pp_w AS (SELECT doc_id, string_split(text, ' ') AS w
         |  FROM documents),
         |pp_t AS (SELECT doc_id, array_to_string(list_transform(
         |    range(0, (len(w) + 11) // 12),
         |    i -> array_to_string(w[(i * 12 + 1):(i * 12 + 12)], ' ')),
         |    chr(10)) AS ptext
         |  FROM pp_w),
         |pp_p AS (SELECT doc_id, para FROM (
         |    SELECT doc_id, unnest(string_split(ptext, chr(10))) AS para
         |    FROM pp_t)
         |  WHERE para <> ''),
         |pp_h AS (SELECT doc_id, ${h60("para")} AS ph,
         |    CAST(length(para) AS BIGINT) AS plen
         |  FROM pp_p),
         |pp_o AS (SELECT ph, CAST(COUNT(*) AS BIGINT) AS n_occ
         |  FROM pp_h GROUP BY ph)
         |SELECT doc_id,
         |  CAST(COUNT(*) AS BIGINT) AS n_paras,
         |  CAST(SUM(CASE WHEN n_occ >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_dup_paras,
         |  CAST(SUM(plen) AS BIGINT) AS n_chars,
         |  ${rd("CAST(SUM(CASE WHEN n_occ >= 2 THEN plen ELSE 0 END) AS DOUBLE) / NULLIF(CAST(SUM(plen) AS DOUBLE), 0)", 6)} AS dup_char_frac
         |FROM pp_h JOIN pp_o USING (ph)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // mirrors TextAnalysis.goodTuring: corpus unigram rollup, then a
    // 1-row reduction over the count-of-counts; fixed double trees
    "q_good_turing" ->
      s"""WITH gt_t AS (SELECT unnest(string_split(text, ' ')) AS t
         |  FROM documents),
         |gt_c AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS c
         |  FROM gt_t WHERE t <> '' GROUP BY t)
         |SELECT CAST(SUM(c) AS BIGINT) AS n_tokens,
         |  CAST(COUNT(*) AS BIGINT) AS vocab,
         |  CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n1_singletons,
         |  CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n2_doubletons,
         |  ${rd("CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE) / NULLIF(CAST(SUM(c) AS DOUBLE), 0)", 6)} AS p0_unseen,
         |  ${rd("2.0 * CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS DOUBLE) / NULLIF(CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE), 0)", 6)} AS gt_singleton_count,
         |  ${rd("CAST(COUNT(*) AS DOUBLE) + CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE) * (CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE) - 1.0) / (2.0 * (CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS DOUBLE) + 1.0))", 4)} AS chao1_vocab
         |FROM gt_c""".stripMargin,

    // mirrors TickAnalytics.realizedKernel(h=5, minMoves=5): exact
    // HUGEINT autocovariances of scale-2 tick moves, Parzen weights
    // shared from the same Scala computation (Double.toString
    // round-trip); minMoves=5 so sf0.001's ~7-tick days still verify
    "q_realized_kernel" -> {
      val wts = graft.operators.TickAnalytics.parzenWeights(5)
        .map(v => s"CAST('$v' AS DOUBLE)")
      s"""WITH ${Adapters.ticksSql},
         |rk_d AS (SELECT symbol, CAST(event_time AS DATE) AS trade_date,
         |    event_time,
         |    ${sc("price", 2)} - LAG(${sc("price", 2)}) OVER w AS dp
         |  FROM ticks
         |  WINDOW w AS (PARTITION BY symbol, CAST(event_time AS DATE)
         |               ORDER BY event_time)),
         |rk_l AS (SELECT symbol, trade_date, dp,
         |    LAG(dp, 1) OVER w AS dp1, LAG(dp, 2) OVER w AS dp2,
         |    LAG(dp, 3) OVER w AS dp3, LAG(dp, 4) OVER w AS dp4,
         |    LAG(dp, 5) OVER w AS dp5
         |  FROM (SELECT * FROM rk_d WHERE dp IS NOT NULL)
         |  WINDOW w AS (PARTITION BY symbol, trade_date ORDER BY event_time)),
         |rk_g AS (SELECT symbol, trade_date,
         |    CAST(COUNT(*) AS BIGINT) AS n_moves,
         |    SUM(CAST(dp AS HUGEINT) * dp) AS g0,
         |    SUM(CAST(dp AS HUGEINT) * dp1) AS g1,
         |    SUM(CAST(dp AS HUGEINT) * dp2) AS g2,
         |    SUM(CAST(dp AS HUGEINT) * dp3) AS g3,
         |    SUM(CAST(dp AS HUGEINT) * dp4) AS g4,
         |    SUM(CAST(dp AS HUGEINT) * dp5) AS g5
         |  FROM rk_l GROUP BY symbol, trade_date),
         |rk_x AS (SELECT symbol, trade_date, n_moves,
         |    CAST(g0 AS DOUBLE) AS g0d,
         |    CAST(g0 AS DOUBLE) + 2.0 * (${wts(0)} * CAST(g1 AS DOUBLE)
         |      + ${wts(1)} * CAST(g2 AS DOUBLE)
         |      + ${wts(2)} * CAST(g3 AS DOUBLE)
         |      + ${wts(3)} * CAST(g4 AS DOUBLE)
         |      + ${wts(4)} * CAST(g5 AS DOUBLE)) AS rk
         |  FROM rk_g WHERE n_moves >= 5)
         |SELECT symbol, trade_date, n_moves,
         |  ${rd("g0d / 10000.0", 6)} AS rv_var,
         |  ${rd("rk / 10000.0", 6)} AS rk_var,
         |  ${rd("SQRT(GREATEST(rk, 0.0)) / 100.0", 4)} AS rk_vol
         |FROM rk_x ORDER BY symbol, trade_date""".stripMargin
    },

    // mirrors DailyAnalytics.hillTail(kTop=20, minLosses=40): ranked
    // scale-4 losses, threshold at rank k+1, scale-9 quantized log
    // ratios summed as exact longs
    "q_hill_tail" ->
      s"""${dailyChain("returns")},
         |ht_l AS (SELECT symbol, trade_date, ${sc4("-daily_return_pct")} AS x
         |  FROM returns WHERE daily_return_pct < 0),
         |ht_r AS (SELECT symbol, trade_date, x,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY symbol
         |      ORDER BY x DESC, trade_date) AS BIGINT) AS rn,
         |    COUNT(*) OVER (PARTITION BY symbol) AS nl
         |  FROM ht_l WHERE x > 0),
         |ht_k AS (SELECT symbol, x AS xk FROM ht_r WHERE rn = 21),
         |ht_c AS (SELECT t.symbol, t.nl,
         |    ${sc("ln(CAST(x AS DOUBLE) / CAST(xk AS DOUBLE))", 9)} AS l9
         |  FROM ht_r t JOIN ht_k USING (symbol)
         |  WHERE t.rn <= 20 AND t.nl >= 40),
         |ht_g AS (SELECT symbol, MAX(nl) AS nl, CAST(COUNT(*) AS BIGINT) AS k,
         |    CAST(SUM(l9) AS BIGINT) AS sl
         |  FROM ht_c GROUP BY symbol)
         |SELECT symbol, CAST(nl AS BIGINT) AS n_losses, k AS k_top,
         |  ${rd("CAST(sl AS DOUBLE) / 1000000000.0 / CAST(k AS DOUBLE)", 6)} AS xi_hill,
         |  ${rd("CAST(k AS DOUBLE) * 1000000000.0 / NULLIF(CAST(sl AS DOUBLE), 0)", 6)} AS alpha_tail
         |FROM ht_g ORDER BY symbol""".stripMargin,

    // mirrors DailyAnalytics.brownForsythe: exact 2x-median deviations
    // (median of scale-4 longs is (a+b)/2, so 2*median is an exact
    // integer), then the q_anova_dow SS machinery; SS outputs return
    // to return-pct^2 units via /4e8
    "q_brown_forsythe" ->
      s"""${dailyChain("returns")},
         |bf_y AS (SELECT dayofweek(trade_date) AS dow,
         |    ${sc("daily_return_pct", 4)} AS y
         |  FROM returns WHERE daily_return_pct IS NOT NULL),
         |bf_m AS (SELECT dow, CAST(median(y) * 2.0 AS BIGINT) AS med2
         |  FROM bf_y GROUP BY dow),
         |bf_z AS (SELECT b.dow, ABS(2 * y - med2) AS z
         |  FROM bf_y b JOIN bf_m USING (dow)),
         |bf_g AS (SELECT dow, CAST(COUNT(*) AS BIGINT) AS ng,
         |    CAST(SUM(z) AS BIGINT) AS sg,
         |    SUM(CAST(z AS HUGEINT) * z) AS qg
         |  FROM bf_z GROUP BY dow),
         |bf_a AS (SELECT dow, ng, sg, qg,
         |    ${sc("CAST(CAST(sg AS HUGEINT) * sg AS DOUBLE) / CAST(ng AS DOUBLE)", 0)} AS a_g
         |  FROM bf_g),
         |bf_t AS (SELECT CAST(SUM(ng) AS BIGINT) AS n, CAST(COUNT(*) AS BIGINT) AS k,
         |    CAST(SUM(sg) AS BIGINT) AS s, SUM(qg) AS q,
         |    CAST(SUM(a_g) AS BIGINT) AS a
         |  FROM bf_a),
         |bf_b AS (SELECT n, k, s, q, a,
         |    ${sc("CAST(CAST(s AS HUGEINT) * s AS DOUBLE) / CAST(n AS DOUBLE)", 0)} AS b
         |  FROM bf_t)
         |SELECT n AS n_days, k AS k_groups,
         |  ${rd("CAST(a - b AS DOUBLE) / 400000000.0", 4)} AS ss_between,
         |  ${rd("CAST(q - a AS DOUBLE) / 400000000.0", 4)} AS ss_within,
         |  ${rd("CAST(a - b AS DOUBLE) / NULLIF(CAST(k - 1 AS DOUBLE), 0) / NULLIF(CAST(q - a AS DOUBLE) / CAST(n - k AS DOUBLE), 0)", 4)} AS f_stat,
         |  ${rd("CAST(a - b AS DOUBLE) / NULLIF(CAST(q - b AS DOUBLE), 0)", 6)} AS eta_sq
         |FROM bf_b""".stripMargin,

    // mirrors DailyAnalytics.pettittTest: doubled average-tie ranks
    // (2*RANK + ties - 1, exact integers), U_t = prefix-sum - t(n+1),
    // earliest argmax of |U_t| over t < n, all-integer 5% gate
    "q_pettitt" ->
      s"""${dailyChain("returns")},
         |pt_x AS (SELECT symbol, trade_date,
         |    ${sc("daily_return_pct", 4)} AS x
         |  FROM returns WHERE daily_return_pct IS NOT NULL),
         |pt_r AS (SELECT symbol, trade_date,
         |    CAST(2 * RANK() OVER (PARTITION BY symbol ORDER BY x)
         |      + COUNT(*) OVER (PARTITION BY symbol, x) - 1 AS BIGINT) AS r2,
         |    CAST(COUNT(*) OVER (PARTITION BY symbol) AS BIGINT) AS n,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY symbol ORDER BY trade_date) AS BIGINT) AS t
         |  FROM pt_x),
         |pt_u AS (SELECT symbol, trade_date, n, t,
         |    SUM(r2) OVER (PARTITION BY symbol ORDER BY trade_date
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      - t * (n + 1) AS u
         |  FROM pt_r),
         |pt_a AS (SELECT symbol, trade_date, n, ABS(u) AS au,
         |    MAX(ABS(u)) OVER (PARTITION BY symbol) AS kmax
         |  FROM pt_u WHERE t < n),
         |pt_g AS (SELECT symbol, MAX(n) AS n, CAST(MAX(au) AS BIGINT) AS k,
         |    MIN(CASE WHEN au = kmax THEN trade_date END) AS change_date
         |  FROM pt_a GROUP BY symbol HAVING MAX(n) >= 60)
         |SELECT symbol, n AS n_days, k AS k_stat, change_date,
         |  ${rd("LEAST(1.0, 2.0 * exp(-6.0 * CAST(k AS DOUBLE) * CAST(k AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE) + CAST(n AS DOUBLE) * CAST(n AS DOUBLE))))", 6)} AS p_approx,
         |  CAST(60000 AS HUGEINT) * k * k
         |    > CAST(36889 AS HUGEINT) * (n * n * n + n * n) AS significant
         |FROM pt_g ORDER BY symbol""".stripMargin,

    // mirrors Cohorts.bradleyTerry(rounds=2) over daily head-to-head
    // outperformance: scale-9 strengths, scale-12 quantized pair
    // terms, two unrolled MM rounds as chained CTEs
    "q_bradley_terry" ->
      s"""${dailyChain("returns")},
         |bt_x AS (SELECT symbol, trade_date, ${sc4("daily_return_pct")} AS y
         |  FROM returns WHERE daily_return_pct IS NOT NULL),
         |bt_p AS (SELECT a.symbol AS i, b.symbol AS j,
         |    CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(SUM(CASE WHEN a.y > b.y THEN 1 ELSE 0 END) AS BIGINT) AS wi
         |  FROM bt_x a JOIN bt_x b
         |    ON a.trade_date = b.trade_date AND a.symbol < b.symbol
         |  WHERE a.y <> b.y GROUP BY 1, 2),
         |bt_g AS (SELECT i, j, n, wi FROM bt_p
         |  UNION ALL SELECT j AS i, i AS j, n, n - wi AS wi FROM bt_p),
         |bt_w AS (SELECT i AS symbol, CAST(SUM(wi) AS BIGINT) AS wins,
         |    CAST(SUM(n) AS BIGINT) AS games
         |  FROM bt_g GROUP BY i),
         |bt_w0 AS (SELECT symbol, CAST(1000000000 AS BIGINT) AS w9 FROM bt_w),
         |bt_r1 AS (SELECT g.i, CAST(SUM(${sc("CAST(n AS DOUBLE) * 1000000000.0 / CAST(wi9.w9 + wj9.w9 AS DOUBLE)", 12)}) AS BIGINT) AS t12
         |  FROM bt_g g JOIN bt_w0 wi9 ON wi9.symbol = g.i
         |  JOIN bt_w0 wj9 ON wj9.symbol = g.j GROUP BY g.i),
         |bt_w1 AS (SELECT w.symbol, ${sc("CAST(wins AS DOUBLE) * 1000000000000.0 / CAST(t12 AS DOUBLE)", 9)} AS w9
         |  FROM bt_w w JOIN bt_r1 ON bt_r1.i = w.symbol),
         |bt_r2 AS (SELECT g.i, CAST(SUM(${sc("CAST(n AS DOUBLE) * 1000000000.0 / CAST(wi9.w9 + wj9.w9 AS DOUBLE)", 12)}) AS BIGINT) AS t12
         |  FROM bt_g g JOIN bt_w1 wi9 ON wi9.symbol = g.i
         |  JOIN bt_w1 wj9 ON wj9.symbol = g.j GROUP BY g.i),
         |bt_w2 AS (SELECT w.symbol, ${sc("CAST(wins AS DOUBLE) * 1000000000000.0 / CAST(t12 AS DOUBLE)", 9)} AS w9
         |  FROM bt_w w JOIN bt_r2 ON bt_r2.i = w.symbol),
         |bt_t AS (SELECT CAST(SUM(w9) AS BIGINT) AS sw FROM bt_w2)
         |SELECT w.symbol, b.games, b.wins,
         |  ${rd("CAST(w.w9 AS DOUBLE) / CAST(sw AS DOUBLE)", 6)} AS bt_strength
         |FROM bt_w2 w JOIN bt_w b USING (symbol) CROSS JOIN bt_t
         |ORDER BY symbol""".stripMargin,

    // mirrors Cohorts.passAtK(k=5): exact task rollup, the
    // without-replacement k-term product, n-c < k => exactly 1
    "q_pass_at_k" ->
      s"""WITH pk AS (SELECT user_id AS task, CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(SUM(CASE WHEN value > 10 THEN 1 ELSE 0 END) AS BIGINT) AS c
         |  FROM events GROUP BY user_id HAVING COUNT(*) >= 5)
         |SELECT task, n AS n_samples, c AS n_correct,
         |  ${rd("CAST(c AS DOUBLE) / CAST(n AS DOUBLE)", 6)} AS pass_at_1,
         |  ${rd("CASE WHEN n - c >= 5 THEN 1.0 - (CAST(n - c - 0 AS DOUBLE) / CAST(n - 0 AS DOUBLE)) * (CAST(n - c - 1 AS DOUBLE) / CAST(n - 1 AS DOUBLE)) * (CAST(n - c - 2 AS DOUBLE) / CAST(n - 2 AS DOUBLE)) * (CAST(n - c - 3 AS DOUBLE) / CAST(n - 3 AS DOUBLE)) * (CAST(n - c - 4 AS DOUBLE) / CAST(n - 4 AS DOUBLE)) ELSE 1.0 END", 6)} AS pass_at_5
         |FROM pk ORDER BY task""".stripMargin,

    // mirrors DailyAnalytics.kupiecPof(alpha=0.05): varCvar-convention
    // threshold on the first half, violation LR on the second;
    // ln(0.95)/ln(0.05) are Scala literals shared with the Spark plan
    "q_kupiec_pof" -> {
      val lnq = s"CAST('${math.log(1 - 0.05)}' AS DOUBLE)"
      val lnp = s"CAST('${math.log(0.05)}' AS DOUBLE)"
      s"""${dailyChain("returns")},
         |kp_x AS (SELECT symbol, trade_date, ${sc4("daily_return_pct")} AS y,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY symbol ORDER BY trade_date) AS BIGINT) AS t,
         |    CAST(COUNT(*) OVER (PARTITION BY symbol) AS BIGINT) AS n
         |  FROM returns WHERE daily_return_pct IS NOT NULL),
         |kp_tr AS (SELECT symbol, y, n // 2 AS ntr,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY symbol ORDER BY y, t) AS BIGINT) AS r
         |  FROM kp_x WHERE t <= n // 2),
         |kp_v AS (SELECT symbol, MAX(ntr) AS ntr,
         |    MIN(CASE WHEN r = CAST(FLOOR(0.05 * CAST(ntr - 1 AS DOUBLE)) AS BIGINT) + 1
         |             THEN y END) AS vk
         |  FROM kp_tr GROUP BY symbol),
         |kp_t AS (SELECT k.symbol, MAX(vk) AS vk,
         |    CAST(COUNT(*) AS BIGINT) AS m,
         |    CAST(SUM(CASE WHEN y < vk THEN 1 ELSE 0 END) AS BIGINT) AS x
         |  FROM kp_x JOIN kp_v k USING (symbol) WHERE t > n // 2
         |  GROUP BY k.symbol HAVING COUNT(*) >= 30),
         |kp_l AS (SELECT symbol, m, x, vk,
         |    -2.0 * (CAST(m - x AS DOUBLE) * $lnq + CAST(x AS DOUBLE) * $lnp
         |      - (CASE WHEN m - x = 0 THEN 0.0
         |              ELSE CAST(m - x AS DOUBLE) * ln(CAST(m - x AS DOUBLE) / CAST(m AS DOUBLE)) END)
         |      - (CASE WHEN x = 0 THEN 0.0
         |              ELSE CAST(x AS DOUBLE) * ln(CAST(x AS DOUBLE) / CAST(m AS DOUBLE)) END)) AS lr
         |  FROM kp_t)
         |SELECT symbol, m AS n_test, x AS n_violations,
         |  ${rd("CAST(vk AS DOUBLE) / 10000.0", 4)} AS var_pct,
         |  ${rd("CAST(x AS DOUBLE) / CAST(m AS DOUBLE)", 6)} AS violation_rate,
         |  ${rd("lr", 4)} AS lr_pof,
         |  lr > 3.8415 AS reject_model
         |FROM kp_l ORDER BY symbol""".stripMargin
    },

    // mirrors TextAnalysis.rboDrift(depth=10, q=0.9) — d pinned to 10
    // to match the registered driver: the synthetic vocabulary is ~31
    // tokens, and truncated RBO can only score identical rankings at 1
    // when depth ≤ list length (rationale in SparkEntry.qRboDrift).
    // Per-token S(max rank) lookups from the SAME Scala-computed
    // literal table, scale-12 quantized, one fixed normalization tree
    "q_rbo_drift" -> {
      val d = 10
      val s = graft.operators.TextAnalysis.rboPartialSums(d, 0.9)
      val sArr = dlist(s)
      val norm = s"CAST('${(1 to d).map(i => math.pow(0.9, i - 1)).sum}' AS DOUBLE)"
      s"""WITH rb_a AS (SELECT t, CAST(ROW_NUMBER() OVER (ORDER BY c DESC, t) AS BIGINT) AS r FROM (
         |    SELECT t, CAST(COUNT(*) AS BIGINT) AS c FROM (
         |      SELECT unnest(string_split(text, ' ')) AS t
         |      FROM documents WHERE doc_id % 2 = 0)
         |    WHERE t <> '' GROUP BY t)),
         |rb_b AS (SELECT t, CAST(ROW_NUMBER() OVER (ORDER BY c DESC, t) AS BIGINT) AS r FROM (
         |    SELECT t, CAST(COUNT(*) AS BIGINT) AS c FROM (
         |      SELECT unnest(string_split(text, ' ')) AS t
         |      FROM documents WHERE doc_id % 2 = 1)
         |    WHERE t <> '' GROUP BY t)),
         |rb_j AS (SELECT GREATEST(a.r, b.r) AS m
         |  FROM rb_a a JOIN rb_b b USING (t)
         |  WHERE a.r <= $d AND b.r <= $d),
         |rb_q AS (SELECT ${sc(s"($sArr)[m]", 12)} AS s12 FROM rb_j)
         |SELECT CAST($d AS BIGINT) AS depth,
         |  CAST(COUNT(*) AS BIGINT) AS n_common,
         |  ${rd(s"CAST(SUM(s12) AS DOUBLE) / 1000000000000.0 / $norm", 6)} AS rbo
         |FROM rb_q""".stripMargin
    },

    // mirrors TextAnalysis.tokenDispersion(topK=50): exact
    // (token, source) counts, population CV over m parts (zeros via
    // m), top-50 by (count DESC, token)
    "q_token_dispersion" ->
      s"""WITH td_m AS (SELECT CAST(COUNT(DISTINCT source) AS BIGINT) AS m
         |  FROM documents),
         |td_c AS (SELECT t, source, CAST(COUNT(*) AS BIGINT) AS f FROM (
         |    SELECT source, unnest(string_split(text, ' ')) AS t
         |    FROM documents)
         |  WHERE t <> '' GROUP BY t, source),
         |td_g AS (SELECT t, CAST(SUM(f) AS BIGINT) AS ft,
         |    SUM(CAST(f AS HUGEINT) * f) AS qt,
         |    CAST(COUNT(*) AS BIGINT) AS ns
         |  FROM td_c GROUP BY t)
         |SELECT t AS token, ft AS n_occ, ns AS n_sources,
         |  ${rd("1.0 - SQRT(GREATEST(CAST(qt AS DOUBLE) / CAST(m AS DOUBLE) - (CAST(ft AS DOUBLE) / CAST(m AS DOUBLE)) * (CAST(ft AS DOUBLE) / CAST(m AS DOUBLE)), 0.0)) / (CAST(ft AS DOUBLE) / CAST(m AS DOUBLE)) / SQRT(CAST(m AS DOUBLE) - 1.0)", 6)} AS juilland_d
         |FROM td_g CROSS JOIN td_m
         |ORDER BY ft DESC, t LIMIT 50""".stripMargin,

    // mirrors Profiling.tCloseness over (lang, source) x n_chars//100:
    // ordered-EMD on the class x value grid, scale-9 quantized
    // cumulative-share gaps
    "q_t_closeness" ->
      s"""WITH tc_b AS (SELECT concat_ws('', lang, source) AS cls,
         |    n_chars // 100 AS v FROM documents WHERE n_chars // 100 IS NOT NULL),
         |tc_cells AS (SELECT cls, v, CAST(COUNT(*) AS BIGINT) AS c
         |  FROM tc_b GROUP BY cls, v),
         |tc_cl AS (SELECT cls, CAST(COUNT(*) AS BIGINT) AS nc FROM tc_b GROUP BY cls),
         |tc_val AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS q FROM tc_b GROUP BY v),
         |tc_tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS nn FROM tc_b),
         |tc_grid AS (SELECT cl.cls, cl.nc, va.v, va.q, COALESCE(ce.c, 0) AS c
         |  FROM tc_cl cl CROSS JOIN tc_val va
         |  LEFT JOIN tc_cells ce ON ce.cls = cl.cls AND ce.v = va.v),
         |tc_cum AS (SELECT cls, nc,
         |    SUM(c) OVER w AS cp, SUM(q) OVER w AS cq
         |  FROM tc_grid
         |  WINDOW w AS (PARTITION BY cls ORDER BY v
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         |tc_d AS (SELECT cls, nc,
         |    ${sc("ABS(CAST(cp AS DOUBLE) / CAST(nc AS DOUBLE) - CAST(cq AS DOUBLE) / CAST(nn AS DOUBLE))", 9)} AS d9
         |  FROM tc_cum CROSS JOIN tc_tot),
         |tc_c AS (SELECT cls, MAX(nc) AS nc, CAST(COUNT(*) AS BIGINT) AS m,
         |    CAST(SUM(d9) AS BIGINT) AS sd
         |  FROM tc_d GROUP BY cls),
         |tc_e AS (SELECT cls, nc, m,
         |    CAST(sd AS DOUBLE) / NULLIF(CAST(m - 1 AS DOUBLE), 0) / 1000000000.0 AS emd
         |  FROM tc_c)
         |SELECT CAST(COUNT(*) AS BIGINT) AS n_classes,
         |  CAST(MAX(m) AS BIGINT) AS m_values,
         |  ${rd("MAX(emd)", 6)} AS max_emd,
         |  CAST(SUM(CASE WHEN emd > 0.2 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating,
         |  CAST(SUM(CASE WHEN emd > 0.2 THEN nc ELSE 0 END) AS BIGINT) AS n_exposed_rows
         |FROM tc_e""".stripMargin,

    // mirrors TextAnalysis.cohensKappa over the q_lang_confusion
    // prediction CTE: HUGEINT margin products, one double division
    "q_cohens_kappa" -> {
      import TextSignalSql._
      s"""WITH tok AS (
         |  SELECT doc_id, lang, string_split(text, ' ') AS ts FROM documents
         |),
         |st AS (
         |  SELECT doc_id, lang,
         |    $hitCols
         |  FROM tok
         |),
         |p AS (
         |  SELECT lang,
         |    CASE $pred
         |         ELSE 'und' END AS lang_pred
         |  FROM st
         |),
         |g AS (
         |  SELECT lang, lang_pred, CAST(COUNT(*) AS BIGINT) AS n
         |  FROM p GROUP BY lang, lang_pred
         |),
         |km AS (SELECT lang, CAST(SUM(n) AS BIGINT) AS r FROM g GROUP BY lang),
         |kc AS (SELECT lang_pred, CAST(SUM(n) AS BIGINT) AS c
         |  FROM g GROUP BY lang_pred),
         |kt AS (SELECT CAST(SUM(n) AS BIGINT) AS nn,
         |    CAST(SUM(CASE WHEN lang = lang_pred THEN n ELSE 0 END) AS BIGINT)
         |      AS agree
         |  FROM g),
         |kp AS (SELECT SUM(CAST(r AS HUGEINT) * c) AS src
         |  FROM km JOIN kc ON km.lang = kc.lang_pred)
         |SELECT kt.nn AS n_docs, kt.agree AS n_agree,
         |  ${rd("CAST(agree AS DOUBLE) / CAST(nn AS DOUBLE)", 6)} AS p_o,
         |  ${rd("CAST(src AS DOUBLE) / CAST(CAST(nn AS HUGEINT) * nn AS DOUBLE)", 6)} AS p_e,
         |  ${rd("CAST(CAST(nn AS HUGEINT) * agree - src AS DOUBLE) / NULLIF(CAST(CAST(nn AS HUGEINT) * nn - src AS DOUBLE), 0)", 6)} AS kappa
         |FROM kt CROSS JOIN kp""".stripMargin
    },

    // mirrors DailyAnalytics.anovaDow: exact power sums per weekday
    // group, floor-quantized S_g^2/n_g terms, fixed F/eta^2 trees
    // (dow keying differs between engines but any bijection of group
    // labels yields identical SSB/SSW)
    "q_anova_dow" ->
      s"""${dailyChain("returns")},
         |av AS (SELECT dayofweek(trade_date) AS dow,
         |    ${sc("daily_return_pct", 4)} AS y
         |  FROM returns WHERE daily_return_pct IS NOT NULL),
         |ag AS (SELECT dow, CAST(COUNT(*) AS BIGINT) AS ng,
         |    CAST(SUM(y) AS BIGINT) AS sg,
         |    SUM(CAST(y AS HUGEINT) * y) AS qg
         |  FROM av GROUP BY dow),
         |aq AS (SELECT dow, ng, sg, qg,
         |    ${sc("CAST(CAST(sg AS HUGEINT) * sg AS DOUBLE) / CAST(ng AS DOUBLE)", 0)} AS a_g
         |  FROM ag),
         |at AS (SELECT CAST(SUM(ng) AS BIGINT) AS n, CAST(COUNT(*) AS BIGINT) AS k,
         |    CAST(SUM(sg) AS BIGINT) AS s, SUM(qg) AS q,
         |    CAST(SUM(a_g) AS BIGINT) AS a
         |  FROM aq),
         |ab AS (SELECT n, k, s, q, a,
         |    ${sc("CAST(CAST(s AS HUGEINT) * s AS DOUBLE) / CAST(n AS DOUBLE)", 0)} AS b
         |  FROM at)
         |SELECT n AS n_days, k AS k_groups,
         |  ${rd("CAST(a - b AS DOUBLE) / 100000000.0", 4)} AS ss_between,
         |  ${rd("CAST(q - a AS DOUBLE) / 100000000.0", 4)} AS ss_within,
         |  ${rd("CAST(a - b AS DOUBLE) / NULLIF(CAST(k - 1 AS DOUBLE), 0) / NULLIF(CAST(q - a AS DOUBLE) / CAST(n - k AS DOUBLE), 0)", 4)} AS f_stat,
         |  ${rd("CAST(a - b AS DOUBLE) / NULLIF(CAST(q - b AS DOUBLE), 0)", 6)} AS eta_sq
         |FROM ab""".stripMargin,

    // mirrors Cohorts.mcnemar: within-user half split on the
    // (ts, event_id) order, discordant-pair chi^2, all-integer 5% gate
    "q_mcnemar" ->
      s"""WITH mc_m AS (SELECT user_id,
         |    ROW_NUMBER() OVER w AS rn,
         |    COUNT(*) OVER (PARTITION BY user_id) AS cnt,
         |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS hit
         |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         |mc_u AS (SELECT user_id,
         |    MAX(CASE WHEN rn * 2 <= cnt THEN hit ELSE 0 END) AS h1,
         |    MAX(CASE WHEN rn * 2 > cnt THEN hit ELSE 0 END) AS h2
         |  FROM mc_m GROUP BY user_id),
         |mc_g AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
         |    CAST(SUM(CASE WHEN h1 = 1 AND h2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_both,
         |    CAST(SUM(CASE WHEN h1 = 0 AND h2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_neither,
         |    CAST(SUM(CASE WHEN h1 = 1 AND h2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_lost,
         |    CAST(SUM(CASE WHEN h1 = 0 AND h2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_gained
         |  FROM mc_u)
         |SELECT n_users, n_both, n_neither, n_lost, n_gained,
         |  ${rd("CAST((n_lost - n_gained) * (n_lost - n_gained) AS DOUBLE) / NULLIF(CAST(n_lost + n_gained AS DOUBLE), 0)", 4)} AS chi2,
         |  CAST(n_lost - n_gained AS HUGEINT) * (n_lost - n_gained) * 10000
         |    > CAST(n_lost + n_gained AS HUGEINT) * 38415 AS significant
         |FROM mc_g""".stripMargin,

    // mirrors DailyAnalytics.eloVsMarket(k=16, base=1500): marketBeta
    // index convention, s = 2/1/0 outcome vs the day mean, scale-6
    // long rating folded in trade-date order (pow/div inside E are
    // IEEE-identical in both engines — probed bit-exact; the floor
    // quantization absorbs any residual ulp)
    "q_elo_market" ->
      s"""${dailyChain("returns")},
         |el_x AS (SELECT symbol, trade_date, ${sc4("daily_return_pct")} AS y
         |  FROM returns WHERE daily_return_pct IS NOT NULL),
         |el_m AS (SELECT trade_date,
         |    CAST(FLOOR(CAST(SUM(y) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)) AS BIGINT) AS x
         |  FROM el_x GROUP BY trade_date),
         |el_s AS (SELECT e.symbol, e.trade_date,
         |    CAST(CASE WHEN e.y > m.x THEN 2 WHEN e.y = m.x THEN 1 ELSE 0 END AS BIGINT) AS s
         |  FROM el_x e JOIN el_m m USING (trade_date)),
         |el_g AS (SELECT symbol, list(s ORDER BY trade_date) AS ss,
         |    CAST(COUNT(*) AS BIGINT) AS n_days,
         |    CAST(SUM(CASE WHEN s = 2 THEN 1 ELSE 0 END) AS BIGINT) AS wins,
         |    CAST(SUM(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS BIGINT) AS draws
         |  FROM el_s GROUP BY symbol HAVING COUNT(*) >= 30)
         |SELECT symbol, n_days, wins, draws,
         |  ${rd("CAST(list_reduce(list_prepend(CAST(1500000000 AS BIGINT), ss), (acc, s) -> acc + CAST(FLOOR(16.0 * (s / 2.0 - 1.0 / (1.0 + pow(10.0, (1500000000 - acc) / 4.0e8))) * 1.0e6) AS BIGINT)) AS DOUBLE) / 1.0e6", 2)} AS elo_rating
         |FROM el_g ORDER BY symbol""".stripMargin,

    // mirrors DailyAnalytics.brierSkill(window=20): trailing-rate
    // probability forecast, all-integer Brier numerator, closed-form
    // climatology reference p(1-p)
    "q_brier_skill" ->
      s"""${dailyChain("returns")},
         |bk_x AS (SELECT symbol, trade_date, ${sc4("daily_return_pct")} AS y
         |  FROM returns WHERE daily_return_pct IS NOT NULL),
         |bk_w AS (SELECT symbol, trade_date,
         |    CASE WHEN y > 0 THEN 1 ELSE 0 END AS o,
         |    CAST(ROW_NUMBER() OVER w AS BIGINT) AS t,
         |    CAST(SUM(CASE WHEN y > 0 THEN 1 ELSE 0 END)
         |      OVER (PARTITION BY symbol ORDER BY trade_date
         |            ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING) AS BIGINT) AS c
         |  FROM bk_x WINDOW w AS (PARTITION BY symbol ORDER BY trade_date)),
         |bk_g AS (SELECT symbol, CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(SUM(o) AS BIGINT) AS p,
         |    CAST(SUM((c - 20 * o) * (c - 20 * o)) AS BIGINT) AS s1
         |  FROM bk_w WHERE t > 20 GROUP BY symbol HAVING COUNT(*) >= 30)
         |SELECT symbol, n AS n_scored,
         |  ${rd("CAST(p AS DOUBLE) / CAST(n AS DOUBLE)", 6)} AS base_rate,
         |  ${rd("CAST(s1 AS DOUBLE) / (400.0 * CAST(n AS DOUBLE))", 6)} AS brier,
         |  ${rd("CAST(p AS DOUBLE) * CAST(n - p AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))", 6)} AS brier_ref,
         |  ${rd("1.0 - CAST(s1 AS DOUBLE) * CAST(n AS DOUBLE) / NULLIF(400.0 * CAST(p AS DOUBLE) * CAST(n - p AS DOUBLE), 0)", 6)} AS bss
         |FROM bk_g ORDER BY symbol""".stripMargin,

    // mirrors DailyAnalytics.pinballEval: kupiecPof train/test split,
    // tau = t/20 ladder order statistics, exact 20L integer loss
    "q_pinball_loss" -> {
      val taus = Seq(1, 5, 10, 15, 19)
      val vks = taus.map(t =>
        s"""MIN(CASE WHEN r = ($t * (ntr - 1)) // 20 + 1 THEN y END) AS vk$t""")
        .mkString(",\n         |    ")
      val melt = taus.map(t =>
        s"SELECT symbol, CAST($t AS BIGINT) AS t20, vk$t AS vk FROM pb_v")
        .mkString("\n         |  UNION ALL ")
      s"""${dailyChain("returns")},
         |pb_x AS (SELECT symbol, trade_date, ${sc4("daily_return_pct")} AS y,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY symbol ORDER BY trade_date) AS BIGINT) AS t,
         |    CAST(COUNT(*) OVER (PARTITION BY symbol) AS BIGINT) AS n
         |  FROM returns WHERE daily_return_pct IS NOT NULL),
         |pb_tr AS (SELECT symbol, y, n // 2 AS ntr,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY symbol ORDER BY y, t) AS BIGINT) AS r
         |  FROM pb_x WHERE t <= n // 2),
         |pb_v AS (SELECT symbol,
         |    $vks
         |  FROM (SELECT symbol, y, r, MAX(ntr) OVER (PARTITION BY symbol) AS ntr FROM pb_tr)
         |  GROUP BY symbol),
         |pb_m AS ($melt),
         |pb_t AS (SELECT x.symbol, m.t20, CAST(COUNT(*) AS BIGINT) AS m,
         |    MAX(m.vk) AS vk,
         |    CAST(SUM(GREATEST(x.y - m.vk, 0)) AS BIGINT) AS up,
         |    CAST(SUM(GREATEST(m.vk - x.y, 0)) AS BIGINT) AS dn
         |  FROM pb_x x JOIN pb_m m USING (symbol) WHERE x.t > x.n // 2
         |  GROUP BY x.symbol, m.t20 HAVING COUNT(*) >= 30)
         |SELECT symbol,
         |  ${rd("CAST(t20 AS DOUBLE) / 20.0", 2)} AS tau,
         |  m AS n_test,
         |  ${rd("CAST(vk AS DOUBLE) / 10000.0", 4)} AS q_forecast_pct,
         |  ${rd("CAST(t20 * up + (20 - t20) * dn AS DOUBLE) / (20.0 * CAST(m AS DOUBLE) * 10000.0)", 6)} AS pinball_pct
         |FROM pb_t ORDER BY symbol, tau""".stripMargin
    },

    // mirrors Profiling.wassersteinDrift: CDF-difference integral over
    // the merged doc-length support, HUGEINT numerator, one division
    "q_wasserstein_drift" ->
      s"""WITH wd_d AS (SELECT source,
         |    CAST(len(list_filter(string_split(text, ' '), t -> t <> '')) AS BIGINT) AS len
         |  FROM documents),
         |wd_c AS (SELECT source, len, CAST(COUNT(*) AS BIGINT) AS c
         |  FROM wd_d GROUP BY source, len),
         |wd_s AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n_s FROM wd_c GROUP BY source),
         |wd_l AS (SELECT len, CAST(SUM(c) AS BIGINT) AS c_all FROM wd_c GROUP BY len),
         |wd_corp AS (SELECT len, c_all,
         |    CAST(SUM(c_all) OVER (ORDER BY len ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_all,
         |    CAST(SUM(c_all) OVER () AS BIGINT) AS nn,
         |    LEAD(len) OVER (ORDER BY len) - len AS delta
         |  FROM wd_l),
         |wd_grid AS (SELECT s.source, p.len, p.cum_all, p.nn, s.n_s, p.delta,
         |    COALESCE(c.c, 0) AS cs
         |  FROM wd_corp p CROSS JOIN wd_s s
         |  LEFT JOIN wd_c c ON c.source = s.source AND c.len = p.len
         |  WHERE p.delta IS NOT NULL),
         |wd_cum AS (SELECT *,
         |    CAST(SUM(cs) OVER (PARTITION BY source ORDER BY len
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_s
         |  FROM wd_grid),
         |wd_g AS (SELECT source, MAX(n_s) AS n_docs, MAX(nn) AS nn,
         |    SUM(abs(CAST(cum_s AS HUGEINT) * nn - CAST(cum_all AS HUGEINT) * n_s) * delta) AS num
         |  FROM wd_cum GROUP BY source)
         |SELECT source, n_docs,
         |  ${rd("CAST(num AS DOUBLE) / (CAST(n_docs AS DOUBLE) * CAST(nn AS DOUBLE))", 6)} AS w1_tokens
         |FROM wd_g ORDER BY source""".stripMargin,

    // mirrors DailyAnalytics.tailDependence(tailPct=5): marketBeta
    // index, varCvar integer-div order-statistic thresholds on both
    // axes, exact conditional count ratios
    "q_tail_dependence" ->
      s"""${dailyChain("returns")},
         |td_x AS (SELECT symbol, trade_date, ${sc4("daily_return_pct")} AS y
         |  FROM returns WHERE daily_return_pct IS NOT NULL),
         |td_m AS (SELECT trade_date,
         |    CAST(FLOOR(CAST(SUM(y) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)) AS BIGINT) AS x
         |  FROM td_x GROUP BY trade_date),
         |td_mr AS (SELECT x,
         |    CAST(ROW_NUMBER() OVER (ORDER BY x, trade_date) AS BIGINT) AS rx,
         |    CAST(COUNT(*) OVER () AS BIGINT) AS nd FROM td_m),
         |td_mt AS (SELECT
         |    MIN(CASE WHEN rx = (5 * (nd - 1)) // 100 + 1 THEN x END) AS lx,
         |    MIN(CASE WHEN rx = (95 * (nd - 1)) // 100 + 1 THEN x END) AS ux
         |  FROM td_mr),
         |td_sr AS (SELECT symbol, y,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY symbol ORDER BY y, trade_date) AS BIGINT) AS ry,
         |    CAST(COUNT(*) OVER (PARTITION BY symbol) AS BIGINT) AS n FROM td_x),
         |td_st AS (SELECT symbol, MAX(n) AS n,
         |    MIN(CASE WHEN ry = (5 * (n - 1)) // 100 + 1 THEN y END) AS ly,
         |    MIN(CASE WHEN ry = (95 * (n - 1)) // 100 + 1 THEN y END) AS uy
         |  FROM td_sr GROUP BY symbol HAVING MAX(n) >= 60),
         |td_g AS (SELECT e.symbol, MAX(s.n) AS n,
         |    CAST(SUM(CASE WHEN m.x > t.ux THEN 1 ELSE 0 END) AS BIGINT) AS mu,
         |    CAST(SUM(CASE WHEN m.x > t.ux AND e.y > s.uy THEN 1 ELSE 0 END) AS BIGINT) AS ju,
         |    CAST(SUM(CASE WHEN m.x < t.lx THEN 1 ELSE 0 END) AS BIGINT) AS ml,
         |    CAST(SUM(CASE WHEN m.x < t.lx AND e.y < s.ly THEN 1 ELSE 0 END) AS BIGINT) AS jl
         |  FROM td_x e JOIN td_m m USING (trade_date)
         |  JOIN td_st s ON s.symbol = e.symbol CROSS JOIN td_mt t
         |  GROUP BY e.symbol)
         |SELECT symbol, n AS n_days, mu AS n_mkt_up,
         |  ${rd("CAST(ju AS DOUBLE) / NULLIF(CAST(mu AS DOUBLE), 0)", 4)} AS lambda_upper,
         |  ml AS n_mkt_down,
         |  ${rd("CAST(jl AS DOUBLE) / NULLIF(CAST(ml AS DOUBLE), 0)", 4)} AS lambda_lower
         |FROM td_g ORDER BY symbol""".stripMargin,

    // mirrors TextAnalysis.keynessLlr(topK=25): Dunning G^2 over the
    // doc-parity 2x2 with pooled-rate expecteds, 0*ln0 limits, exact
    // cross-product direction flag; cut on the unrounded g2
    "q_keyness_llr" -> {
      val pooled = "((CAST(a AS DOUBLE) + CAST(b AS DOUBLE)) / (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE)))"
      s"""WITH kl_c AS (SELECT t,
         |    CAST(SUM(CASE WHEN h = 0 THEN 1 ELSE 0 END) AS BIGINT) AS a,
         |    CAST(SUM(CASE WHEN h <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS b
         |  FROM (SELECT doc_id % 2 AS h, unnest(string_split(text, ' ')) AS t
         |        FROM documents)
         |  WHERE t <> '' GROUP BY t),
         |kl_n AS (SELECT CAST(SUM(a) AS BIGINT) AS na, CAST(SUM(b) AS BIGINT) AS nb FROM kl_c),
         |kl_g AS (SELECT t, a, b, na, nb,
         |    2.0 * ((CASE WHEN CAST(a AS DOUBLE) = 0.0 THEN 0.0
         |             ELSE CAST(a AS DOUBLE) * ln(CAST(a AS DOUBLE) / (CAST(na AS DOUBLE) * $pooled)) END)
         |         + (CASE WHEN CAST(b AS DOUBLE) = 0.0 THEN 0.0
         |             ELSE CAST(b AS DOUBLE) * ln(CAST(b AS DOUBLE) / (CAST(nb AS DOUBLE) * $pooled)) END)) AS g2
         |  FROM kl_c CROSS JOIN kl_n),
         |kl_t AS (SELECT t AS token, a AS count_a, b AS count_b,
         |    ${rd("g2", 4)} AS g2_llr,
         |    CASE WHEN a * nb > b * na THEN 'even_ids' ELSE 'odd_ids' END AS overused_in
         |  FROM kl_g ORDER BY g2 DESC, t LIMIT 25)
         |SELECT * FROM kl_t ORDER BY g2_llr DESC, token""".stripMargin
    },

    // mirrors TextAnalysis.tokenBurstiness(topK=50): exact
    // variance-to-mean ratio over per-doc counts (zeros through the
    // document-total broadcast), HUGEINT squares
    "q_token_burstiness" ->
      s"""WITH tb_dc AS (SELECT d, t, CAST(COUNT(*) AS BIGINT) AS c
         |  FROM (SELECT doc_id AS d, unnest(string_split(text, ' ')) AS t
         |        FROM documents)
         |  WHERE t <> '' GROUP BY d, t),
         |tb_g AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS m,
         |    CAST(SUM(c) AS BIGINT) AS sc, SUM(CAST(c AS HUGEINT) * c) AS sq
         |  FROM tb_dc GROUP BY t),
         |tb_n AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd FROM documents),
         |tb_t AS (SELECT t AS token, sc AS n_occ, m AS n_docs_with,
         |    ${rd("CAST(CAST(nd AS HUGEINT) * sq - CAST(sc AS HUGEINT) * sc AS DOUBLE) / NULLIF(CAST(CAST(nd AS HUGEINT) * sc AS DOUBLE), 0)", 6)} AS vmr_burstiness
         |  FROM tb_g CROSS JOIN tb_n ORDER BY sc DESC, t LIMIT 50)
         |SELECT * FROM tb_t ORDER BY n_occ DESC, token""".stripMargin,

    // mirrors DailyAnalytics.cdar(alpha=5%): running-peak drawdown
    // percent quantized scale-6 per day, varCvar-convention top-k
    // pick, exact integer mean
    "q_cdar" ->
      s"""${dailyChain("returns")},
         |cd_p AS (SELECT symbol, trade_date, ${sc("close_price", 2)} AS cp,
         |    MAX(${sc("close_price", 2)}) OVER (PARTITION BY symbol ORDER BY trade_date
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pk
         |  FROM returns),
         |cd_d AS (SELECT symbol, trade_date,
         |    ${sc("CAST(pk - cp AS DOUBLE) / NULLIF(CAST(pk AS DOUBLE), 0) * 100.0", 6)} AS dd6,
         |    CAST(COUNT(*) OVER (PARTITION BY symbol) AS BIGINT) AS n
         |  FROM cd_p),
         |cd_r AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY symbol
         |    ORDER BY dd6 DESC, trade_date) AS BIGINT) AS rn FROM cd_d),
         |cd_g AS (SELECT symbol, MAX(n) AS n, CAST(COUNT(*) AS BIGINT) AS k,
         |    MIN(dd6) AS dar6, CAST(SUM(dd6) AS BIGINT) AS s6
         |  FROM cd_r WHERE n >= 60 AND rn <= (5 * (n - 1)) // 100 + 1
         |  GROUP BY symbol)
         |SELECT symbol, n AS n_days, k AS k_worst,
         |  ${rd("CAST(dar6 AS DOUBLE) / 1000000.0", 4)} AS dar_pct,
         |  ${rd("CAST(s6 AS DOUBLE) / CAST(k AS DOUBLE) / 1000000.0", 4)} AS cdar_pct
         |FROM cd_g ORDER BY symbol""".stripMargin,

    // mirrors DailyAnalytics.energyDistanceSplit: the sorted-pass
    // order-statistic identity for all three pairwise sums, HUGEINT
    // exact, fixed double E tree
    "q_energy_distance" ->
      s"""${dailyChain("returns")},
         |ed_x AS (SELECT symbol, ${sc4("daily_return_pct")} AS y,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY symbol ORDER BY trade_date) AS BIGINT) AS t,
         |    CAST(COUNT(*) OVER (PARTITION BY symbol) AS BIGINT) AS n
         |  FROM returns WHERE daily_return_pct IS NOT NULL),
         |ed_g AS (SELECT symbol, y, t, n,
         |    CASE WHEN t * 2 <= n THEN 1 ELSE 2 END AS g FROM ed_x),
         |ed_r AS (SELECT *,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY symbol ORDER BY y, t) AS BIGINT) AS j,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY symbol, g ORDER BY y, t) AS BIGINT) AS jg,
         |    CAST(COUNT(*) OVER (PARTITION BY symbol, g) AS BIGINT) AS mg
         |  FROM ed_g),
         |ed_s AS (SELECT symbol, MAX(n) AS n,
         |    CAST(SUM(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         |    SUM(CAST(2 * j - n - 1 AS HUGEINT) * y) AS pooled,
         |    SUM(CASE WHEN g = 1 THEN CAST(2 * jg - mg - 1 AS HUGEINT) * y ELSE 0 END) AS w1,
         |    SUM(CASE WHEN g = 2 THEN CAST(2 * jg - mg - 1 AS HUGEINT) * y ELSE 0 END) AS w2
         |  FROM ed_r GROUP BY symbol HAVING MAX(n) >= 60),
         |ed_f AS (SELECT symbol, n, n1, n - n1 AS n2,
         |    pooled - w1 - w2 AS crx, w1, w2 FROM ed_s)
         |SELECT symbol, n1, n2,
         |  ${rd("(2.0 * (CAST(crx AS DOUBLE) / CAST(n1 * n2 AS DOUBLE)) - 2.0 * CAST(w1 AS DOUBLE) / CAST(n1 * n1 AS DOUBLE) - 2.0 * CAST(w2 AS DOUBLE) / CAST(n2 * n2 AS DOUBLE)) / 10000.0", 6)} AS e_dist_pct,
         |  ${rd("CAST(n1 * n2 AS DOUBLE) / CAST(n AS DOUBLE) * (2.0 * (CAST(crx AS DOUBLE) / CAST(n1 * n2 AS DOUBLE)) - 2.0 * CAST(w1 AS DOUBLE) / CAST(n1 * n1 AS DOUBLE) - 2.0 * CAST(w2 AS DOUBLE) / CAST(n2 * n2 AS DOUBLE)) / 10000.0", 4)} AS t_energy
         |FROM ed_f ORDER BY symbol""".stripMargin,

    // mirrors TextAnalysis.mattr(window=25): per-doc sliding-window
    // distinct counts as pure list expressions, scale-12 quantized
    // per-doc ratio, exact source mean
    "q_mattr" ->
      s"""WITH mt_b AS (SELECT source,
         |    list_filter(string_split(text, ' '), t -> t <> '') AS ts
         |  FROM documents),
         |mt_n AS (SELECT source, CAST(len(ts) AS BIGINT) AS n, ts
         |  FROM mt_b WHERE len(ts) > 0),
         |mt_d AS (SELECT source, n,
         |    CASE WHEN n >= 25 THEN ${sc("CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), " +
               "list_transform(range(1, n - 23), i -> CAST(len(list_distinct(list_slice(ts, i, i + 24))) AS BIGINT))), " +
               "(a, x) -> a + x) AS DOUBLE) / (25.0 * CAST(n - 24 AS DOUBLE))", 12)}
         |         ELSE ${sc("CAST(len(list_distinct(ts)) AS DOUBLE) / CAST(n AS DOUBLE)", 12)} END AS m12
         |  FROM mt_n),
         |mt_g AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |    CAST(SUM(CASE WHEN n < 25 THEN 1 ELSE 0 END) AS BIGINT) AS n_short,
         |    CAST(SUM(m12) AS BIGINT) AS s12
         |  FROM mt_d GROUP BY source)
         |SELECT source, n_docs, n_short,
         |  ${rd("CAST(s12 AS DOUBLE) / CAST(n_docs AS DOUBLE) / 1000000000000.0", 6)} AS mattr
         |FROM mt_g ORDER BY source""".stripMargin,

    // mirrors TextAnalysis.diversityIndex: exact HUGEINT Simpson,
    // scale-12-quantized Shannon terms (jsDivergence device), Pielou
    // via data-dependent ln on source-grain rows (documented 1-ulp)
    "q_diversity_index" ->
      s"""WITH dv_t AS (SELECT source, unnest(string_split(text, ' ')) AS t
         |  FROM documents),
         |dv_c AS (SELECT source, t, CAST(COUNT(*) AS BIGINT) AS c
         |  FROM dv_t WHERE t <> '' GROUP BY source, t),
         |dv_n AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n FROM dv_c GROUP BY source),
         |dv_h AS (SELECT c.source, n, c,
         |    ${sc("(-(CAST(c AS DOUBLE) / CAST(n AS DOUBLE))) * ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE))", 12)} AS h12
         |  FROM dv_c c JOIN dv_n USING (source)),
         |dv_g AS (SELECT source, MAX(n) AS n, CAST(COUNT(*) AS BIGINT) AS v,
         |    CAST(SUM(h12) AS BIGINT) AS sh,
         |    SUM(CAST(c AS HUGEINT) * (c - 1)) AS sq
         |  FROM dv_h GROUP BY source)
         |SELECT source, n AS n_tokens, v AS vocab,
         |  ${rd("CAST(sh AS DOUBLE) / 1000000000000.0", 6)} AS shannon_nats,
         |  ${rd("CAST(sq AS DOUBLE) / NULLIF(CAST(CAST(n AS HUGEINT) * (n - 1) AS DOUBLE), 0)", 6)} AS simpson_concentration,
         |  ${rd("CAST(sh AS DOUBLE) / 1000000000000.0 / NULLIF(ln(CAST(v AS DOUBLE)), 0)", 6)} AS pielou_evenness
         |FROM dv_g ORDER BY source""".stripMargin
  )
}
