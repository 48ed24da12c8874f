package graft.reg

import org.apache.spark.sql.DataFrame

import graft.formula.Formula
import graft.model.ModelMatrix
import graft.model.ModelMatrix.{Atom, ConstAtom, DesignCol, DummyAtom, NumericAtom, RawAtom}

/** ANSI-SQL text generator — the analogue of the reference's
  * `sql_only = TRUE` mode (reference dbreg.R:760-762, 1116-1118, asserted in
  * inst/tinytest/test_trade.R:49-57 and test_interactions.R:179-185: returns
  * a character string starting with `WITH`, containing `CASE WHEN` factor
  * expansion).
  *
  * The engine itself never executes SQL text (it builds Catalyst plans), so
  * this emits the DuckDB/ANSI equivalent of each strategy's aggregation —
  * runnable documentation of exactly what the engine computes. The design
  * matrix is rendered from the SAME structural expansion
  * ([[ModelMatrix.expandStructure]]) the fit uses, so the generated SQL and
  * the executed plan cannot drift apart.
  */
object SqlGen {

  def quoteIdent(name: String): String = "\"" + name.replace("\"", "\"\"") + "\""
  def quoteLit(s: String): String = "'" + s.replace("'", "''") + "'"

  /** Render one design atom as ANSI SQL (the text twin of
    * [[ModelMatrix.atomCol]]). */
  def atomSql(a: Atom): String = a match {
    case NumericAtom(v) => s"CAST(${quoteIdent(v)} AS DOUBLE)"
    // CAST the branches: a bare 1.0 literal is DECIMAL in some engines
    // (DuckDB), which would silently change every downstream aggregate type
    case DummyAtom(v, lvl) =>
      s"(CASE WHEN CAST(${quoteIdent(v)} AS VARCHAR) = ${quoteLit(lvl)} " +
        "THEN CAST(1 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END)"
    case ConstAtom(x) => s"CAST($x AS DOUBLE)"
    case RawAtom(v) => quoteIdent(v)
  }

  def colSql(dc: DesignCol): String = dc.atoms.map(atomSql).mkString(" * ")

  /** The [1, X, y] moment triangle select-list over a CTE exposing `y` and
    * the named design columns. */
  private def momentSelect(xNames: List[String], extra: List[String] = Nil): String = {
    val lines = scala.collection.mutable.ArrayBuffer[String]()
    lines += "CAST(count(*) AS BIGINT) AS n_total"
    lines += "sum(y) AS sum_y"
    lines += "sum(y * y) AS sum_y_y"
    xNames.foreach { x =>
      lines += s"sum(${quoteIdent(x)}) AS ${quoteIdent(s"sum_$x")}"
      lines += s"sum(${quoteIdent(x)} * y) AS ${quoteIdent(s"sum_${x}_y")}"
    }
    for (i <- xNames.indices; j <- i until xNames.length)
      lines += s"sum(${quoteIdent(xNames(i))} * ${quoteIdent(xNames(j))}) AS " +
        quoteIdent(s"sum_${xNames(i)}_${xNames(j)}")
    (lines ++ extra).mkString(",\n  ")
  }

  private def designCols(f: Formula, levels: Map[String, Seq[String]]): List[DesignCol] =
    ModelMatrix.expandStructure(f.terms, levels, f.fe, intercept = f.intercept).cols

  /** `base` CTE: y cast to double, design columns, raw FE columns, with the
    * engine's listwise-deletion filter. */
  private def baseCte(
      f: Formula,
      cols: List[DesignCol],
      table: String,
      withFe: Boolean
  ): String = {
    val feSel = if (withFe) f.fe.map(quoteIdent) else Nil
    val sel =
      (s"CAST(${quoteIdent(f.y)} AS DOUBLE) AS y" ::
        cols.map(dc => s"${colSql(dc)} AS ${quoteIdent(dc.name)}")) ++ feSel
    val notNull = f.allInputCols.distinct.map(v => s"${quoteIdent(v)} IS NOT NULL")
    s"""base AS (
       |  SELECT
       |    ${sel.mkString(",\n    ")}
       |  FROM $table
       |  WHERE ${notNull.mkString(" AND ")}
       |)""".stripMargin
  }

  /** `moments` strategy: one pass computing the full moment triangle. */
  def momentsSql(f: Formula, levels: Map[String, Seq[String]], table: String): String = {
    val cols = designCols(f, levels)
    s"""WITH ${baseCte(f, cols, table, withFe = false)}
       |SELECT
       |  ${momentSelect(cols.map(_.name))}
       |FROM base""".stripMargin
  }

  /** `compress` strategy: the cell table (reference Wong et al. compression)
    * — GROUP BY the raw regressor/FE values with n / Σy / Σy² / ȳ / √n.
    * Text twin of [[Dbreg.compressedData]]. */
  def compressSql(f: Formula, table: String): String = {
    val keys = (f.xvars ++ f.fe).distinct.map(quoteIdent)
    val notNull = f.allInputCols.distinct.map(v => s"${quoteIdent(v)} IS NOT NULL")
    s"""WITH base AS (
       |  SELECT ${keys.mkString(", ")}, CAST(${quoteIdent(f.y)} AS DOUBLE) AS y
       |  FROM $table
       |  WHERE ${notNull.mkString(" AND ")}
       |),
       |cells AS (
       |  SELECT ${keys.mkString(", ")},
       |    CAST(count(*) AS BIGINT) AS n,
       |    sum(y) AS sum_y,
       |    sum(y * y) AS sum_y_sq
       |  FROM base
       |  GROUP BY ${keys.mkString(", ")}
       |)
       |SELECT ${keys.mkString(", ")}, n, sum_y, sum_y_sq,
       |  sum_y / n AS mean_y, sqrt(n) AS wts
       |FROM cells
       |ORDER BY ${keys.mkString(", ")}""".stripMargin
  }

  /** `demean` strategy (FWL within-transform), 1 or 2 fixed effects:
    * group-mean CTEs, demean join, moment triangle over the demeaned
    * columns (no intercept — absorbed by the FE). */
  def demeanSql(f: Formula, levels: Map[String, Seq[String]], table: String): String = {
    require(f.fe.nonEmpty && f.fe.length <= 2,
      s"demean supports 1-2 fixed effects, got ${f.fe.length}")
    val cols = designCols(f, levels)
    val names = cols.map(_.name)
    val vars = "y" :: names // demeaned value columns
    def meanCte(cte: String, key: Option[String], suffix: String): String = {
      val sel = vars.map(v => s"avg(${quoteIdent(v)}) AS ${quoteIdent(s"m_${v}_$suffix")}")
      key match {
        case Some(k) =>
          s"""$cte AS (
             |  SELECT ${quoteIdent(k)}, ${sel.mkString(", ")}
             |  FROM base GROUP BY ${quoteIdent(k)}
             |)""".stripMargin
        case None =>
          s"""$cte AS (
             |  SELECT ${sel.mkString(", ")} FROM base
             |)""".stripMargin
      }
    }
    if (f.fe.length == 1) {
      val fe1 = f.fe.head
      val dm = vars.map(v =>
        s"b.${quoteIdent(v)} - g.${quoteIdent(s"m_${v}_g")} AS ${quoteIdent(v)}")
      s"""WITH ${baseCte(f, cols, table, withFe = true)},
         |${meanCte("gm", Some(fe1), "g")},
         |demeaned AS (
         |  SELECT ${dm.mkString(",\n    ")}
         |  FROM base b JOIN gm g USING (${quoteIdent(fe1)})
         |)
         |SELECT
         |  ${momentSelect(names, List("(SELECT CAST(count(*) AS BIGINT) FROM gm) AS n_fe1"))}
         |FROM demeaned""".stripMargin
    } else {
      val Seq(fe1, fe2) = f.fe.toSeq
      // balanced-panel double-demean: x - mean_fe1 - mean_fe2 + mean_overall
      val dm = vars.map(v =>
        s"(b.${quoteIdent(v)} - u.${quoteIdent(s"m_${v}_u")})" +
          s" - t.${quoteIdent(s"m_${v}_t")} + o.${quoteIdent(s"m_${v}_o")}" +
          s" AS ${quoteIdent(v)}")
      s"""WITH ${baseCte(f, cols, table, withFe = true)},
         |${meanCte("um", Some(fe1), "u")},
         |${meanCte("tm", Some(fe2), "t")},
         |${meanCte("om", None, "o")},
         |demeaned AS (
         |  SELECT ${dm.mkString(",\n    ")}
         |  FROM base b
         |  JOIN um u USING (${quoteIdent(fe1)})
         |  JOIN tm t USING (${quoteIdent(fe2)})
         |  CROSS JOIN om o
         |)
         |SELECT
         |  ${momentSelect(names, List(
             "(SELECT CAST(count(*) AS BIGINT) FROM um) AS n_fe1",
             "(SELECT CAST(count(*) AS BIGINT) FROM tm) AS n_fe2"))}
         |FROM demeaned""".stripMargin
    }
  }

  /** `mundlak` strategy: per-FE group means of every regressor join back as
    * extra columns; moment triangle over [x…, x̄_fe…] (with intercept). */
  def mundlakSql(f: Formula, levels: Map[String, Seq[String]], table: String): String = {
    require(f.fe.nonEmpty, "mundlak requires at least one fixed effect")
    val cols = designCols(f, levels)
    val names = cols.map(_.name)
    val meanCtes = f.fe.zipWithIndex.map { case (fe, k) =>
      val sel = names.map(x =>
        s"avg(${quoteIdent(x)}) AS ${quoteIdent(s"m_${x}_$fe")}")
      s"""gm$k AS (
         |  SELECT ${quoteIdent(fe)}, ${sel.mkString(", ")}
         |  FROM base GROUP BY ${quoteIdent(fe)}
         |)""".stripMargin
    }
    val meanNames = f.fe.flatMap(fe => names.map(x => s"m_${x}_$fe"))
    val joins = f.fe.zipWithIndex
      .map { case (fe, k) => s"JOIN gm$k USING (${quoteIdent(fe)})" }
      .mkString("\n  ")
    s"""WITH ${baseCte(f, cols, table, withFe = true)},
       |${meanCtes.mkString(",\n")},
       |augmented AS (
       |  SELECT ${("y" :: names ++ meanNames).map(quoteIdent).mkString(", ")}
       |  FROM base
       |  $joins
       |)
       |SELECT
       |  ${momentSelect(names ++ meanNames)}
       |FROM augmented""".stripMargin
  }

  /** Generate the strategy's SQL with explicit factor levels (no
    * SparkSession needed — used by the oracle battery and by callers that
    * already know their levels). */
  def sqlOnlyWithLevels(
      formula: String,
      levels: Map[String, Seq[String]],
      table: String,
      strategy: String
  ): String = {
    val f = Formula.parse(formula)
    strategy match {
      case "moments" => momentsSql(f, levels, table)
      case "compress" => compressSql(f, table)
      case "demean" => demeanSql(f, levels, table)
      case "mundlak" => mundlakSql(f, levels, table)
      case other => throw new IllegalArgumentException(
        s"sqlOnly supports moments|compress|demean|mundlak, got $other")
    }
  }

  /** Generate the strategy's SQL, discovering factor levels from `df` the
    * same way the fit does (one level probe over every factor var). */
  def sqlOnly(
      formula: String,
      df: DataFrame,
      table: String,
      strategy: String
  ): String = {
    val f = Formula.parse(formula)
    val levels = ModelMatrix.levels(df, f.xvars.filter(ModelMatrix.isFactor(df, _)))
    sqlOnlyWithLevels(formula, levels, table, strategy)
  }
}
