package graft.queries

import graft.core.Panel
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType}

/** One registered operator query: the Spark program plus (when the
  * semantics are ANSI-SQL-expressible) an equivalent DuckDB oracle.
  * Column names must match exactly between the two (the driver's
  * compare sorts columns by name before hashing). */
final case class Q(
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object Q {
  def apply(oracle: String)(fn: (SparkSession, String) => DataFrame): Q = {
    // the recursive CD fold ([[cdSolveSql]]) needs the embedding
    // statement's WITH to be RECURSIVE; declaring it on every oracle
    // is harmless in DuckDB (checked: no oracle CTE shadows a base
    // table, which is the only semantic RECURSIVE could change) and
    // saves threading a flag through every composed builder
    // guard BEFORE consuming whitespace: with \s+(?!RECURSIVE) a
    // multi-space "WITH  RECURSIVE" would let \s+ backtrack one space
    // and rewrite to "WITH RECURSIVE RECURSIVE" (ADVICE r10)
    val o = oracle.replaceFirst("^(\\s*)WITH(?!\\s+RECURSIVE\\b)\\s+", "$1WITH RECURSIVE ")
    Q(fn, Some(o))
  }
  def rowsOnly(fn: (SparkSession, String) => DataFrame): Q = Q(fn, None)

  def tbl(s: SparkSession, dir: String, name: String): DataFrame =
    graft.core.Tables(s, dir, name)

  /** events as panel: entity=user_id, time=(ts, event_id), x=value. */
  def ev(s: SparkSession, dir: String): Panel = Panel.events(s, dir)

  /** DuckDB-compatible 6-dp rounding: round-half-away-from-zero on the
    * RAW double (std::round(x·10⁶)/10⁶), not Spark's decimal-string
    * round() — the two disagree on values whose shortest decimal repr
    * is a tie but whose double sits off it. Applied to all float
    * columns so both engines hash identical values. */
  def rd6(c: Column): Column = {
    // signum·floor(|y|+0.5) IS std::round, including the sign of zero:
    // DuckDB round(-1e-16, 6) = -0.0, and the driver hash is bitwise —
    // Spark floor/ceil return LONG and would collapse -0.0 to 0.0
    // (round-1 p_fourier_terms hash mismatch). NaN/±Inf pass through
    // unchanged (Spark floor(NaN|Inf) collapses to Long.MaxValue);
    // |y| ≥ 2^52 passes through too — 6-dp rounding is ULP-ambiguous
    // there and such magnitudes must use the decimal-string path.
    val cd = c.cast("double")
    val y = cd * 1e6
    when(isnan(cd) || abs(y) >= 4.503599627370496e15, cd)
      .otherwise(signum(y) * floor(abs(y) + 0.5) / 1e6)
  }

  /** 4-dp variant for fixtures whose distributed aggregation order
    * makes the 6th decimal a ULP tie at larger scale factors. */
  def rd4(c: Column): Column = {
    val cd = c.cast("double")
    val y = cd * 1e4
    when(isnan(cd) || abs(y) >= 4.503599627370496e15, cd)
      .otherwise(signum(y) * floor(abs(y) + 0.5) / 1e4)
  }

  def r6(df: DataFrame): DataFrame = {
    val cols = df.schema.fields.map { f =>
      f.dataType match {
        case DoubleType | FloatType => rd6(col(f.name)).as(f.name)
        case _ => col(f.name)
      }
    }
    df.select(cols.toIndexedSeq: _*)
  }

  /** Shared DuckDB window-spec fragments (events panel). */
  val W = "PARTITION BY user_id ORDER BY ts, event_id"
  val WE = "PARTITION BY user_id"

  /** Cholesky solve of a d-dim SPD system as THREE RECURSIVE-CTE
    * folds (factor columns / forward substitution / back
    * substitution) over list-typed state — the oracle side of
    * [[graft.functions.Ols.choleskySolve]], arithmetic mirrored
    * term-for-term: every accumulation is a `list_reduce` over an
    * ordered `list_transform` product list prepended with the anchor
    * (the left-associated sequential subtraction the Scala loop
    * runs), element extraction is exact, sqrt is correctly rounded,
    * so the two engines agree bitwise (prototyped at d = 5/8/15
    * against a replica of the Scala loop).
    *
    * Replaced the 3d-MATERIALIZED-stage unroll in round 10: the
    * elite-family oracles carried hundreds of Cholesky stanzas each
    * and DuckDB's planner cost is superlinear in stanza count (see
    * [[cdSolveSql]]). Statements embedding this must be WITH
    * RECURSIVE — [[Q.apply]] rewrites that centrally.
    *
    * Input CTE `from0` must have columns `m_<i>_<j>` (upper triangle,
    * i ≤ j) and `b_<i>`; MULTI-ROW inputs fold each row independently
    * (the per-entity deseasonalize solve), every source column is
    * carried through the fold. The final CTE ([[cholSolveLast]])
    * carries `from0`'s columns plus the solution `a_0..a_{d-1}`. */
  def cholSolveSql(d: Int, from0: String, p: String = "ch"): String = {
    val mRows = (0 until d).map(i =>
      (0 until d).map(j => s"m_${math.min(i, j)}_${math.max(i, j)}")
        .mkString("[", ", ", "]")).mkString(", ")
    val bList = (0 until d).map(i => s"b_$i").mkString("[", ", ", "]")
    val (qm, qb, qj, ql) = (s"${p}_qm", s"${p}_qb", s"${p}_qj", s"${p}_ql")
    val (qi, qy, qn, qa) = (s"${p}_qi", s"${p}_qy", s"${p}_qn", s"${p}_qa")
    val colDiag =
      s"""list_reduce(list_prepend($qm[$qj + 1][$qj + 1],
            list_transform(range($qj), k -> $ql[$qj + 1][k + 1] * $ql[$qj + 1][k + 1])),
          (x, y) -> x - y)"""
    s"""${p}_mm AS MATERIALIZED (SELECT *, [$mRows] AS $qm, $bList AS $qb FROM $from0),
        ${p}_ch AS (
          SELECT *, 0 AS $qj, list_transform(range(1, ${d + 1}),
            i -> CAST([] AS DOUBLE[])) AS $ql FROM ${p}_mm
          UNION ALL
          SELECT * REPLACE ($qj + 1 AS $qj,
            list_transform(range(1, ${d + 1}), i ->
              CASE WHEN i - 1 < $qj THEN $ql[i]
              ELSE list_append($ql[i],
                list_transform([list_reduce(
                    list_prepend($qm[i][$qj + 1],
                      list_transform(range($qj), k -> $ql[i][k + 1] * $ql[$qj + 1][k + 1])),
                    (x, y) -> x - y)], s ->
                  CASE WHEN i - 1 = $qj THEN sqrt(s)
                       ELSE s / sqrt($colDiag) END)[1])
              END) AS $ql)
          FROM ${p}_ch WHERE $qj < $d),
        ${p}_fw AS (
          SELECT *, 0 AS $qi, CAST([] AS DOUBLE[]) AS $qy
          FROM ${p}_ch WHERE $qj = $d
          UNION ALL
          SELECT * REPLACE ($qi + 1 AS $qi, list_append($qy,
            list_reduce(list_prepend($qb[$qi + 1],
              list_transform(range($qi), k -> $ql[$qi + 1][k + 1] * $qy[k + 1])),
              (x, z) -> x - z)
            / $ql[$qi + 1][$qi + 1]) AS $qy)
          FROM ${p}_fw WHERE $qi < $d),
        ${p}_bw AS (
          SELECT *, 0 AS $qn, CAST([] AS DOUBLE[]) AS $qa
          FROM ${p}_fw WHERE $qi = $d
          UNION ALL
          SELECT * REPLACE ($qn + 1 AS $qn, list_prepend(
            list_reduce(list_prepend($qy[$d - $qn],
              list_transform(range($d - $qn, $d, 1),
                k -> $ql[k + 1][$d - $qn] * $qa[k - $d + $qn + 1])),
              (x, z) -> x - z)
            / $ql[$d - $qn][$d - $qn], $qa) AS $qa)
          FROM ${p}_bw WHERE $qn < $d),
        ${p}_fin AS MATERIALIZED (
          SELECT * EXCLUDE ($qm, $qb, $qj, $ql, $qi, $qy, $qn, $qa),
            ${(0 until d).map(i => s"$qa[${i + 1}] AS a_$i").mkString(", ")}
          FROM ${p}_bw WHERE $qn = $d)"""
  }

  /** Name of the final CTE emitted by [[cholSolveSql]]. */
  def cholSolveLast(d: Int, p: String = "ch"): String = s"${p}_fin"

  /** Cyclic-coordinate-descent elastic-net solve (the sklearn
    * `ElasticNet`/`Lasso` objective) as ONE RECURSIVE-CTE fold — the
    * oracle side of [[graft.functions.Ols.cdFromMoments]], replicating
    * its arithmetic term-for-term: moment centering, the one CD loop
    * (`Ols.cdSweeps`, shared with the no-intercept solve): the k-ascending ρ
    * accumulation (left-associated subtraction chain, element
    * extraction from the packed lists is exact), the soft-threshold
    * branches (ρ let-bound once via the single-element-list lambda),
    * and the intercept recovery, all at a FIXED sweep count so both
    * engines run the identical update sequence.
    *
    * This replaced the per-coordinate-update CTE unroll in round 10:
    * O(sweeps·p) MATERIALIZED stanzas made the CD family ~60% of the
    * whole oracle suite's text, and DuckDB's planner cost is
    * superlinear in stanza count (suite wall >20 min at sf0.01, which
    * starved the driver's correctness gate). The fold is O(p²) text
    * ONCE regardless of sweeps, bitwise-identical output (prototyped
    * against a Python replica of cdFromMoments). Statements embedding
    * it must be WITH RECURSIVE — [[Q.apply]] rewrites that centrally.
    *
    * Input CTE `from0` must carry `m_<i>_<j>` (upper triangle incl.
    * intercept row 0) and `b_<i>`, ONE ROW (pooled global moments);
    * the final CTE ([[cdSolveLast]]) carries `from0`'s columns plus
    * the solution `a_0..a_<p>`. */
  def cdSolveSql(p: Int, alpha: Double, l1Ratio: Double, sweeps: Int,
                 from0: String, pre: String = "cd"): String = {
    def cName(j: Int, k: Int) = s"c_${math.min(j, k)}_${math.max(j, k)}"
    val cs = for (j <- 1 to p; k <- j to p)
      yield s"m_${j}_$k - m_0_$j * m_0_$k / m_0_0 AS c_${j}_$k"
    val ccs = (1 to p).map(j => s"b_$j - m_0_$j * b_0 / m_0_0 AS cc_$j")
    val consts = Seq(
      s"m_0_0 * ${alpha * l1Ratio} AS ${pre}_thr",
      s"m_0_0 * ${alpha * (1.0 - l1Ratio)} AS ${pre}_l2")
    val cmRows = (1 to p).map(j =>
      (1 to p).map(k => cName(j, k)).mkString("[", ", ", "]")).mkString(", ")
    val cvList = (1 to p).map(j => s"cc_$j").mkString("[", ", ", "]")
    val zeros = Seq.fill(p)("CAST(0.0 AS DOUBLE)").mkString("[", ", ", "]")
    val branches = (1 to p).map { j =>
      val chain = s"cv[$j]" + (1 to p).filter(_ != j)
        .map(k => s" - cm[$j][$k] * w[$k]").mkString
      val den = s"(cm[$j][$j] + l2)"
      val vj = s"""list_transform([($chain)], rr ->
          CASE WHEN $den <= 0.0 THEN CAST(0.0 AS DOUBLE)
               WHEN rr > thr THEN (rr - thr) / $den
               WHEN rr < -thr THEN (rr + thr) / $den
               ELSE CAST(0.0 AS DOUBLE) END)[1]"""
      s"WHEN ${j - 1} THEN w[1:${j - 1}] || [$vj] || w[${j + 1}:$p]"
    }.mkString(" ")
    val aDot = (1 to p).map(j => s"+ it.w[$j] * m_0_$j").mkString(" ")
    s"""${pre}_c AS MATERIALIZED (SELECT *, ${(cs ++ ccs ++ consts).mkString(", ")}
          FROM $from0),
        ${pre}_m AS MATERIALIZED (SELECT [$cmRows] AS cm, $cvList AS cv,
          ${pre}_thr AS thr, ${pre}_l2 AS l2 FROM ${pre}_c),
        ${pre}_it AS (
          SELECT 0 AS s, $zeros AS w FROM ${pre}_m
          UNION ALL
          SELECT s + 1, CASE (s % $p) $branches END
          FROM ${pre}_it, ${pre}_m WHERE s < ${sweeps * p}),
        ${pre}_fin AS MATERIALIZED (SELECT ${pre}_c.*,
          (b_0 - (0.0 $aDot)) / m_0_0 AS a_0,
          ${(1 to p).map(j => s"it.w[$j] AS a_$j").mkString(", ")}
        FROM ${pre}_it it, ${pre}_c WHERE it.s = ${sweeps * p})"""
  }

  /** Name of the final CTE emitted by [[cdSolveSql]]. */
  def cdSolveLast(p: Int, sweeps: Int, pre: String = "cd"): String =
    s"${pre}_fin"

  /** NO-INTERCEPT cyclic-CD elastic-net solve
    * ([[graft.functions.Ols.elasticNetCDNoDrift]]'s oracle): CD on the
    * RAW Gram system — no centering, no intercept recovery. Input CTE
    * `from0` must carry `m_<i>_<j>` (0-based FEATURE indices, upper
    * triangle), `b_<i>`, and `nn` (row count). The final CTE
    * ([[cdSolveNoDriftLast]]) carries `a_0..a_{p-1}` aligned with the
    * drift=false predStages naming. */
  def cdSolveNoDriftSql(p: Int, alpha: Double, l1Ratio: Double, sweeps: Int,
                        from0: String, pre: String = "cnd"): String = {
    // same recursive fold as [[cdSolveSql]] — the same Ols.cdSweeps
    // loop — on the RAW Gram (0-based feature indices, no centering,
    // no intercept recovery)
    def mName(j: Int, k: Int) = s"m_${math.min(j, k)}_${math.max(j, k)}"
    val consts = Seq(
      s"nn * ${alpha * l1Ratio} AS ${pre}_thr",
      s"nn * ${alpha * (1.0 - l1Ratio)} AS ${pre}_l2")
    val cmRows = (0 until p).map(j =>
      (0 until p).map(k => mName(j, k)).mkString("[", ", ", "]")).mkString(", ")
    val cvList = (0 until p).map(j => s"b_$j").mkString("[", ", ", "]")
    val zeros = Seq.fill(p)("CAST(0.0 AS DOUBLE)").mkString("[", ", ", "]")
    val branches = (1 to p).map { j =>
      val chain = s"cv[$j]" + (1 to p).filter(_ != j)
        .map(k => s" - cm[$j][$k] * w[$k]").mkString
      val den = s"(cm[$j][$j] + l2)"
      val vj = s"""list_transform([($chain)], rr ->
          CASE WHEN $den <= 0.0 THEN CAST(0.0 AS DOUBLE)
               WHEN rr > thr THEN (rr - thr) / $den
               WHEN rr < -thr THEN (rr + thr) / $den
               ELSE CAST(0.0 AS DOUBLE) END)[1]"""
      s"WHEN ${j - 1} THEN w[1:${j - 1}] || [$vj] || w[${j + 1}:$p]"
    }.mkString(" ")
    s"""${pre}_c AS MATERIALIZED (SELECT *, ${consts.mkString(", ")} FROM $from0),
        ${pre}_m AS MATERIALIZED (SELECT [$cmRows] AS cm, $cvList AS cv,
          ${pre}_thr AS thr, ${pre}_l2 AS l2 FROM ${pre}_c),
        ${pre}_it AS (
          SELECT 0 AS s, $zeros AS w FROM ${pre}_m
          UNION ALL
          SELECT s + 1, CASE (s % $p) $branches END
          FROM ${pre}_it, ${pre}_m WHERE s < ${sweeps * p}),
        ${pre}_fin AS MATERIALIZED (SELECT ${pre}_c.*,
          ${(0 until p).map(j => s"it.w[${j + 1}] AS a_$j").mkString(", ")}
        FROM ${pre}_it it, ${pre}_c WHERE it.s = ${sweeps * p})"""
  }

  /** Name of the final CTE emitted by [[cdSolveNoDriftSql]]. */
  def cdSolveNoDriftLast(p: Int, sweeps: Int, pre: String = "cnd"): String =
    s"${pre}_fin"

  /** DuckDB fragment: 12 hex nibbles of hex-string expression `h`
    * starting at 1-based position `off+1`, as a BIGINT — the oracle
    * side of the portable 48-bit md5-half hashes
    * (Spark: conv(substring(md5(x),off+1,12),16,10)). */
  def hex12ToLongSql(h: String, off: Int = 0): String = (0 until 12)
    .map(i => s"(strpos('0123456789abcdef', substring($h, ${off + i + 1}, 1)) - 1) * ${1L << (4 * (11 - i))}")
    .mkString("(", " + ", ")")

  /** Normal-equation moment aggregates for regressors `xs` (index 0 is
    * the literal intercept "1.0") against label `y`: `m_<i>_<j>` =
    * Σ xᵢxⱼ (upper triangle) and `b_<i>` = Σ xᵢ·y. `ridge` > 0 adds λ
    * to the non-intercept diagonal (sklearn-Ridge semantics, matching
    * Ols.fit). */
  def olsMomentsSql(xs: Seq[String], y: String, ridge: Double = 0.0,
                    penalizeFrom: Int = 1, weight: String = ""): String = {
    val d = xs.length
    // weighted moments enter as w·(xᵢ·xⱼ) — the same association
    // Ols.addMoments folds for Ols.fitWeighted; keep them in lockstep
    def t(prod: String) = if (weight.isEmpty) prod else s"$weight * ($prod)"
    val ms = for (i <- 0 until d; j <- i until d) yield {
      val pen = if (ridge != 0.0 && i == j && i >= penalizeFrom) s" + $ridge" else ""
      s"sum(${t(s"${xs(i)} * ${xs(j)}")})$pen AS m_${i}_$j"
    }
    val bs = (0 until d).map(i => s"sum(${t(s"${xs(i)} * $y")}) AS b_$i")
    (ms ++ bs).mkString(", ")
  }
}
