package graft.dfl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import Node._
import graft.llm.{Ann, Retrieval}

/** Executes a DFL pipeline against a DataFrame.
  *
  * Two-level evaluation exactly as the reference uses it (SURVEY.md §7.2):
  * dataset functions (`filter(@,'…')`, `map(@,'…')`, `sort`, `limit`,
  * `group`, `hist`, `set`, `len`, `bbox`) take the dataset as `@` and a
  * QUOTED sub-expression evaluated per row (reference: examples/bars.dfl:8-12);
  * everything else is a row-level transform where `@` is the current record
  * (reference: examples/geonames.dfl — dict build, `:=`, `+=`, ternary drop).
  *
  * Scale design: consecutive row-level stages fuse into ONE Column chain —
  * a single `select` with no intermediate materialization — so a 6-stage
  * record pipeline is still one narrow codegen'd projection over the scan.
  * A stage's null-drop (`c ? null : x`) does not enter that chain: its
  * condition accumulates into a keep predicate that filters the base
  * columns before the projection, so each kept record is built once and
  * a dropped one never is. Dataset stages map to native DataFrame ops,
  * keeping Catalyst free to push filters below projections and prune
  * parquet columns.
  */
object DflFrame {

  /** Evaluate DFL source over `df`. Result column naming: scalar map
    * results become a column named `value`; dict results flatten to
    * top-level columns. */
  def pipeline(df: DataFrame, src: String, vars: Map[String, Any] = Map.empty): DataFrame =
    pipelineWithVars(df, src, vars)._1

  /** Like [[pipeline]] but also returns the dataset-valued `$vars` the run
    * bound (`$c := (…)`), so callers with a variable cache (service exec,
    * reference: handlers/ServiceExecHandler.go:290) can persist them and
    * seed the next run — the `$c ?: filter(@, …)` caching idiom of
    * examples/osm.sh:165. Seed by passing DataFrames in `vars`. */
  def pipelineWithVars(df: DataFrame, src: String,
                       vars: Map[String, Any] = Map.empty): (DataFrame, Map[String, DataFrame]) = {
    val node = Parser.parse(src)
    val stages = node match {
      case Pipe(ss) => ss
      case single   => List(single)
    }
    run(df, stages, vars)
  }

  /** Compile a row-level DFL predicate to a Column against `df`
    * (the `filter(@, '…')` inner expression form). */
  def predicate(df: DataFrame, src: String, vars: Map[String, Any] = Map.empty): Column =
    ColumnCompiler.compile(Parser.parse(src), ColumnCompiler.Ctx.forDataFrame(df,
      vars.filterNot(_._2.isInstanceOf[DataFrame])))

  /** The per-record error side channel (reference: cli/process.go:167-189
    * routes records whose evaluation fails to a separate writer): input
    * rows that the pipeline's leading row-level stages would DROP — a
    * null-drop stage's condition removes them, or their fused expression
    * evaluates to null (under lenient, non-ANSI evaluation, per-record
    * type/shape failures surface as nulls). Scoped to the row-level
    * prefix: dataset stages aggregate rather than drop. */
  def droppedRows(df: DataFrame, src: String, vars: Map[String, Any] = Map.empty): DataFrame = {
    val stages = Parser.parse(src) match {
      case Pipe(ss) => ss
      case single   => List(single)
    }
    // stop at dataset stages, and conservatively at anything that MIGHT
    // be one under run()'s dynamic classification (bare $var stages,
    // binds/ternaries containing dataset calls)
    def containsDatasetCall(n: Node): Boolean =
      isDatasetStage(n) || Node.childrenOf(n).exists(containsDatasetCall)
    val rowPrefix = stages.takeWhile {
      case n if isDatasetStage(n)                    => false
      case Var(_)                                    => false
      // a bind of a dataset call OR of a bare $var (which may be a
      // caller-seeded dataset), and an elvis/ternary containing a
      // dataset call, are all potentially dataset-valued under run()'s
      // dynamic classification — stop conservatively, never compile
      // them row-level here
      case Assign(_, v)
          if containsDatasetCall(v) || v.isInstanceOf[Var]    => false
      case e @ Elvis(_, _) if containsDatasetCall(e)          => false
      case Ternary(_, t, f)
          if containsDatasetCall(t) || containsDatasetCall(f) => false
      case _                                         => true
    }
    if (rowPrefix.isEmpty) df.limit(0)
    else {
      // scalars only, exactly as run() filters them — a caller-seeded
      // DataFrame var in a scalar position must fail the same clean way
      // on both entry points, not die in litAny
      val scalars = vars.filterNot(_._2.isInstanceOf[DataFrame])
      // the same stage fold run() uses, so both entry points agree on
      // which records a null-drop removes
      val st = rowPrefix.foldLeft(Option.empty[RowState]) { (s, stage) =>
        Some(rowStage(s, stage, rowCtx(df, s, scalars)))
      }.get
      df.filter(st.keep.fold(lit(false))(k => !k) || st.cur.isNull)
    }
  }

  private val datasetFns =
    Set("filter", "map", "limit", "sort", "group", "hist", "set", "array", "len", "bbox",
      // LLM-pipeline dataset stages (project-brief extensions): the same
      // Dedup/Similarity operators the Scala API exposes, invocable from
      // the DFL/catalog/server surface — a catalog Process can dedup a
      // corpus or run ANN via /services/{name}/exec like any other stage
      "dedup", "nearDedup", "nearDupPairs", "nearDupClusters",
      "nearDedupClusters", "dedupAgainst", "dupPairsAgainst", "diff", "pool",
      "freqItems", "join", "scale",
      "annTopK", "annTopKBatch", "annRange",
      "annRangeBatch", "annTopKFiltered",
      "decontam", "decontamBloom", "decontamScrub", "contamHits",
      "sample", "mix", "pack", "shard", "lmScore", "windowDups", "dedupSpans",
      "vocab", "tfidf", "dsir", "dsirScore", "classify", "bpeSegment",
      "unigramSegment", "wordpieceSegment", "tokSegment",
      "cdcChunks", "cdcPairs", "cdcScrub", "sourceFilter", "imageDedup",
      "imageDedupAgainst", "bm25", "hybrid", "hybridFiltered", "rankEval",
      "lineDedup", "mmr", "quantiles", "annProbe", "bm25Probe", "hybridProbe",
      "annProbeBatch", "bm25ProbeBatch", "annRangeProbe", "annProbeFiltered",
      // temporal extension stages (graft.temporal.Temporal)
      "sessionize", "cap", "asof", "topk", "rolling", "tokenize", "profile")

  /** Pending row-level stages: the fused record, the `:=` bindings, and
    * the conjunction of the null-drop keep predicates folded in so far
    * (None keeps every record). */
  private final case class RowState(cur: Column, lets: Map[String, Column],
                                    keep: Option[Column] = None)

  /** `@` and `$let` for the next row-level stage: the pending record, or
    * the DataFrame's own columns when no row stage is pending. */
  private def rowCtx(df: DataFrame, st: Option[RowState],
                     vars: Map[String, Any]): ColumnCompiler.Ctx = st match {
    case Some(s) => ColumnCompiler.Ctx.forValue(s.cur, vars, s.lets)
    case None    => ColumnCompiler.Ctx.forDataFrame(df, vars)
  }

  /** Fold one row-level stage into the pending state — shared by [[run]]
    * and [[droppedRows]].
    *
    * A stage `c ? null : x` or `c ? x : null` (however deeply the branch
    * nests the same form, as geonames' `a ? null : (b ? @ : null)` does)
    * is the reference's per-record drop (cli/process.go:184-189). Its
    * condition joins the keep predicate, as `NOT coalesce(c, false)` or
    * `coalesce(c, false)` so a null condition takes the else branch
    * exactly as when() does, and the chain continues with `x` itself.
    * The fused record then carries no `CASE WHEN … THEN null`, which
    * Catalyst would inline — record and all — into every pushed-down
    * reference, and a dropped record stays dropped when a later stage
    * stops reading `@`. A ternary nested inside an expression keeps
    * when/otherwise. */
  private def rowStage(st: Option[RowState], stage: Node,
                       ctx: ColumnCompiler.Ctx): RowState = {
    val lets = st.map(_.lets).getOrElse(Map.empty[String, Column])
    val keep0 = st.flatMap(_.keep)
    stage match {
      case Assign(name, value) =>
        RowState(st.map(_.cur).getOrElse(ctx.whole()),
          lets + (name -> ColumnCompiler.compile(value, ctx)), keep0)
      case _ =>
        def cond(c: Node): Column = coalesce(ColumnCompiler.compile(c, ctx), lit(false))
        def peel(n: Node, keep: Option[Column]): (Node, Option[Column]) = {
          def and(k: Column) = Some(keep.fold(k)(_ && k))
          n match {
            case Ternary(c, NullLit, x) => peel(x, and(!cond(c)))
            case Ternary(c, x, NullLit) => peel(x, and(cond(c)))
            case other                  => (other, keep)
          }
        }
        val (body, keep) = peel(stage, keep0)
        RowState(ColumnCompiler.compile(body, ctx), lets, keep)
    }
  }

  private def run(df0: DataFrame, stages: List[Node],
                  vars: Map[String, Any]): (DataFrame, Map[String, DataFrame]) = {
    var df = df0
    var row: Option[RowState] = None
    // dataset-valued $vars, seeded from any DataFrames passed in `vars`
    // (the service-exec cache hands back previously-bound datasets)
    var dsVars: Map[String, DataFrame] =
      vars.collect { case (k, d: DataFrame) => k -> d }
    val scalarVars = vars.filterNot(_._2.isInstanceOf[DataFrame])

    /** The value set of a dataset `-` RHS: literals, NEGATIVE literals
      * (the lexer has no negative literals — `-1` arrives as
      * Unary("-", 1)), and scalar $vars. Anything else is a loud error —
      * `collect {{ case Lit(v) => v }}` used to silently DROP negative
      * and var elements from the set, leaving their rows in the result. */
    def minusDropVals(rhs: Node): Seq[Any] = {
      // Each element contributes one OR MORE drop values: a $var bound to
      // a Seq inside a set literal (`hist(@,'@w') - {1, $xs}`) flattens
      // into the drop set — returning the raw Seq would put a collection
      // into isin, which never matches a scalar column and silently
      // leaves the rows in (the exact class this refactor eliminates).
      def elem(e: Node): Seq[Any] = e match {
        case Lit(v)                     => Seq(v)
        case Unary("-", Lit(v: Long))   => Seq(-v)
        case Unary("-", Lit(v: Double)) => Seq(-v)
        case Var(n2) => scalarVars.getOrElse(n2,
          throw new DflParseException(s"unbound $$$n2")) match {
          case xs: Seq[_] => xs
          case scalar     => Seq(scalar)
        }
        case other => throw new DflParseException(
          s"dataset '-' set element must be a literal or $$var: ${Node.render(other)}")
      }
      rhs match {
        case Var(n2) => scalarVars.getOrElse(n2,
          throw new DflParseException(s"unbound $$$n2")) match {
          case xs: Seq[_] => xs
          case other      => Seq(other)
        }
        case SetLit(xs)   => xs.flatMap(elem)
        case ArrayLit(xs) => xs.flatMap(elem)
        case other => throw new DflParseException(
          s"dataset '-' needs a set/var on the right, got ${Node.render(other)}")
      }
    }

    /** Is `n` a dataset-producing expression (for `:=` / ternary / elvis
      * at the pipeline level)? Bare `@` counts only when there is NO
      * pending row state — mid-row-chain, `@` is the current row value
      * and the stage must stay row-level. */
    def isDatasetExpr(n: Node): Boolean = n match {
      case Attr("")         => row.isEmpty
      case Var(name)        => dsVars.contains(name)
      case Elvis(l, r)      => isDatasetExpr(l) || isDatasetExpr(r)
      case Ternary(_, t, f) => isDatasetExpr(t) || isDatasetExpr(f)
      case other            => isDatasetStage(other)
    }

    /** Does `n` depend on per-row context — any attribute, or a `$var`
      * bound by a row-level `:=`? A ternary whose condition does is the
      * ROW null-drop form, never a dataset branch switch. */
    def refsRow(n: Node): Boolean = n match {
      case Attr(_)   => true
      case Var(name) => row.exists(_.lets.contains(name))
      case other     => Node.childrenOf(other).exists(refsRow)
    }

    /** Evaluate a variable-only condition on the driver (no row context —
      * e.g. `$limit > 0` picking between dataset branches). */
    def driverCond(cond: Node): Boolean = {
      val ctx = ColumnCompiler.Ctx(
        resolveAttr = n => throw new DflParseException(s"@$n not valid in a dataset condition"),
        whole = () => throw new DflParseException("@ not valid in a dataset condition"),
        vars = scalarVars)
      val r = df.sparkSession.range(1)
        .select(ColumnCompiler.compile(cond, ctx).cast("boolean"))
        .head()
      !r.isNullAt(0) && r.getBoolean(0) // null condition → false, like when()
    }

    /** Evaluate a dataset expression: `@` = the current dataset, `$v` a
      * bound dataset var, elvis falls back when the var is unbound
      * (the `$c ?: filter(@, …)` caching idiom, examples/osm.sh:165),
      * ternary picks a branch by a driver-evaluated condition. */
    def evalDatasetExpr(n: Node): DataFrame = n match {
      case Attr("")   => df
      case Var(name)  => dsVars.getOrElse(name,
        throw new DflParseException(s"unbound dataset $$$name"))
      case Elvis(l, r) =>
        // fall back through every unbound/null arm, not just a direct var
        def tryEval(m: Node): Option[DataFrame] = m match {
          case Var(name)   => dsVars.get(name)
          case NullLit     => None
          case Elvis(a, b) => tryEval(a).orElse(tryEval(b))
          case other       => Some(evalDatasetExpr(other))
        }
        tryEval(l).getOrElse(evalDatasetExpr(r))
      case Ternary(c, t, f) => if (driverCond(c)) evalDatasetExpr(t) else evalDatasetExpr(f)
      case NullLit          => df.limit(0) // null branch drops every record
      case FunCall(name, args) if datasetFns(name) && isDatasetArg(args.headOption) =>
        datasetOp(df, name, args, scalarVars, dsVars)
      case FunCall("array", List(inner: FunCall))
          if datasetFns(inner.name) && isDatasetArg(inner.args.headOption) =>
        datasetOp(df, inner.name, inner.args, scalarVars, dsVars)
      // the dataset-minus form is a dataset expression everywhere the
      // classifier says it is — `$top := (hist(@, '@w') - $stop)` used
      // to fall through to the catch-all despite working as a bare stage
      case Binary("-", FunCall(name, fargs), rhs)
          if datasetFns(name) && isDatasetArg(fargs.headOption) =>
        val base = datasetOp(df, name, fargs, scalarVars, dsVars)
        base.filter(!col(base.columns.head).isin(minusDropVals(rhs): _*))
      case d: DictLit if referencesDataset(d) => assembleDict(df, d, scalarVars)
      case other => throw new DflParseException(
        s"not a dataset expression: ${Node.render(other)}")
    }

    /** Materialize pending row-level stages: the keep predicate as a
      * filter over the base columns, then one narrow projection
      * (reference: cli/process.go:184-189 — a null result removes the
      * record). The `__r` null check only matters for a record Catalyst
      * cannot prove non-null; over a `named_struct` it optimizes away. */
    def flush(): Unit = row.foreach { st =>
      df = st.keep.fold(df)(df.filter).select(st.cur.as("__r"))
        .filter(col("__r").isNotNull)
      df = df.schema.fields.head.dataType match {
        case _: StructType => df.select(col("__r.*"))
        case _             => df.select(col("__r").as("value"))
      }
      row = None
    }

    // size proxy: the rendered SQL length (Spark 4 Columns are lazy
    // ColumnNode trees — walking catalyst children pre-resolution sees
    // only a 1-node wrapper, so measure the rendered form instead)
    def exprSize(c: Column): Int = c.toString.length

    /** When the fused row expression gets large, materialize it (and the
      * lets) as a real projection. Later stages then reference cheap
      * column attributes instead of re-expanding the whole tree — without
      * this, a `$c := …` referenced N times duplicates the expression N
      * times and the generated code can pass the JVM's 64 KB method limit,
      * dropping the stage out of codegen. CollapseProject will not merge
      * it back: the materialized expression is non-cheap and
      * multiply-referenced. The pending keep predicate filters first, as
      * in [[flush]], so the projection builds only kept records; a null
      * record is left for the final flush. */
    def compactIfLarge(): Unit = row.foreach { st =>
      val total = exprSize(st.cur) + st.lets.values.map(exprSize).sum
      if (total > 1000) {
        val letCols = st.lets.toSeq
        df = st.keep.fold(df)(df.filter).select(st.cur.as("__r") +:
          letCols.map { case (n, c) => c.as(s"__let_$n") }: _*)
        row = Some(RowState(col("__r"),
          letCols.map { case (n, _) => n -> col(s"__let_$n") }.toMap))
      }
    }

    stages.foreach {
      case FunCall(name, args) if datasetFns(name) && isDatasetArg(args.headOption) =>
        flush()
        df = datasetOp(df, name, args, scalarVars, dsVars)

      case fc @ FunCall("array", List(inner: FunCall))
          if datasetFns(inner.name) && isDatasetArg(inner.args.headOption) =>
        flush()
        df = datasetOp(df, inner.name, inner.args, scalarVars, dsVars)
        val _ = fc // array(set(@)) — set already yields rows; array is a no-op

      case Binary("-", fc @ FunCall(name, fargs), rhs)
          if datasetFns(name) && isDatasetArg(fargs.headOption) =>
        // dataset minus a value set, e.g. `hist(@, '@word') - $stopwords`
        // (reference: examples/hostosm.sh:46): drop rows whose key column
        // is in the set. The set is a driver-side literal, so this lowers
        // to a broadcast-friendly NOT IN — never a shuffle.
        flush()
        df = datasetOp(df, name, fargs, scalarVars, dsVars)
        df = df.filter(!col(df.columns.head).isin(minusDropVals(rhs): _*))
        val _ = fc

      case d: DictLit if referencesDataset(d) =>
        // FeatureCollection-style assembly: one aggregate over the dataset
        // (reference: named/named.go:20). Driver-safe only at CLI result
        // sizes; engine paths never do this implicitly.
        flush()
        df = assembleDict(df, d, scalarVars)

      case Assign(name, value) if isDatasetExpr(value) =>
        // dataset-valued binding: `$c := ($c ?: filter(@, '…'))`
        // (reference: examples/osm.sh:165) — the bound dataset is returned
        // to the caller for cross-exec caching
        flush()
        df = evalDatasetExpr(value)
        dsVars += name -> df

      case Var(name) if dsVars.contains(name) =>
        // dataset var as a pipeline stage: substitute the bound dataset.
        // If the SAME name is also bound by a pending row-level ':=',
        // the two bindings disagree on what $name means — fail loudly
        // instead of silently serving the stale dataset
        if (row.exists(_.lets.contains(name)))
          throw new DflParseException(
            s"$$$name is bound both as a dataset var and by a pending " +
              "row-level ':=' — rename one binding")
        flush()
        df = dsVars(name)

      case e @ Elvis(_, _) if row.isEmpty && isDatasetExpr(e) =>
        // dataset elvis as a stage: `$cached ?: filter(@, …)`
        flush()
        df = evalDatasetExpr(e)

      case t @ Ternary(c, tb, fb)
          if !refsRow(c) && (isDatasetExpr(tb) || isDatasetExpr(fb)) &&
            Seq(tb, fb).forall(b => isDatasetExpr(b) || b == NullLit) =>
        // conditional dataset stage: `($limit > 0) ? limit(@, $limit) : @`
        // (reference: examples/osm.sh:165) — condition is VARIABLE-ONLY
        // (a row-referencing condition is the per-record null-drop form)
        // and BOTH branches dataset-shaped (a row-valued branch keeps the
        // whole ternary row-level); decided once on the driver, so only
        // the chosen branch plans
        flush()
        df = evalDatasetExpr(t)

      case stage =>
        // a row-level stage or `:=`: materialize first, so it references
        // cheap attributes
        compactIfLarge()
        row = Some(rowStage(row, stage, rowCtx(df, row, scalarVars)))
    }
    flush()
    (df, dsVars)
  }

  private def isDatasetArg(n: Option[Node]): Boolean = n match {
    case Some(Attr("")) => true
    case _              => false
  }

  /** One classification shared by [[run]]'s dispatch and
    * [[droppedRows]]' row-prefix scan — a stage that consumes the
    * DATASET rather than a single row. */
  private def isDatasetStage(n: Node): Boolean = n match {
    case FunCall(name, args) if datasetFns(name) && isDatasetArg(args.headOption) => true
    case FunCall("array", List(inner: FunCall))
        if datasetFns(inner.name) && isDatasetArg(inner.args.headOption)          => true
    case Binary("-", FunCall(name, fargs), _)
        if datasetFns(name) && isDatasetArg(fargs.headOption)                     => true
    case d: DictLit if referencesDataset(d)                                       => true
    case _                                                                        => false
  }

  private def referencesDataset(d: DictLit): Boolean =
    d.entries.exists {
      case (_, Attr(""))                      => true
      case (_, FunCall("len", List(Attr("")))) => true
      case _                                  => false
    }

  private def datasetOp(df: DataFrame, name: String, args: List[Node],
                        vars: Map[String, Any],
                        dsVars: Map[String, DataFrame] = Map.empty): DataFrame = {
    // Bounds check lives HERE, at the single args-access choke point the
    // typed helpers below share — a blanket IOOBE catch around the whole
    // stage body would also swallow genuine defects from the eager
    // driver-side work (index meta reads, query-batch parsing) and
    // mislabel them as usage errors for the HTTP exec surface.
    def argAt(i: Int): Node =
      if (i < args.size) args(i)
      else throw new DflParseException(
        s"$name: wrong number of arguments (${args.size - 1} given)")
    def sub(i: Int): Node = argAt(i) match {
      case Lit(s: String) => Parser.parse(s) // quoted sub-expression
      case other          => other
    }
    def subCol(i: Int): Column =
      ColumnCompiler.compile(sub(i), ColumnCompiler.Ctx.forDataFrame(df, vars))
    def intArg(i: Int): Int = argAt(i) match {
      case Lit(v: Long) => v.toInt
      case Var(n2)      => vars(n2) match {
        case l: Long => l.toInt; case x: Int => x
        case other   => other.toString.toInt
      }
      case other => throw new DflParseException(s"expected int arg: ${Node.render(other)}")
    }
    def numArg(i: Int): Double = argAt(i) match {
      case Lit(v: Double) => v
      case Lit(v: Long)   => v.toDouble
      // the lexer has no negative literals: '-0.5' parses as Unary("-", 0.5)
      case Unary("-", Lit(v: Double)) => -v
      case Unary("-", Lit(v: Long))   => -v.toDouble
      case Var(n2)        => vars(n2) match {
        case d: Double => d; case l: Long => l.toDouble; case x: Int => x.toDouble
        case other     => other.toString.toDouble
      }
      case other => throw new DflParseException(s"expected numeric arg: ${Node.render(other)}")
    }
    def strArg(i: Int): String = argAt(i) match {
      case Lit(s: String) => s
      case Var(n2)        => vars(n2).toString
      case other => throw new DflParseException(s"expected string arg: ${Node.render(other)}")
    }
    def toDoubleAny(x: Any): Double = x match {
      case v: Number => v.doubleValue()
      case other     => other.toString.toDouble
    }
    // a dataset-valued $var arg (seeded by the caller or bound earlier in
    // the pipeline with `$v := (…)`), e.g. decontam's benchmark corpus
    def dsArg(i: Int): DataFrame = argAt(i) match {
      case Var(n2) => dsVars.getOrElse(n2,
        throw new DflParseException(s"unbound dataset $$$n2"))
      case other => throw new DflParseException(
        s"expected dataset var arg: ${Node.render(other)}")
    }
    // a query BATCH: a $var bound to a Seq of [id, [v…]] pairs — exactly
    // the shape a JSON request variable parses to, so an HTTP service
    // exec can POST `{"variables":{"qs":[[7,[0.1,-0.2]],…]}}`
    def queryBatchArg(i: Int): Seq[(Long, Seq[Double])] = argAt(i) match {
      case Var(n2) => vars.getOrElse(n2,
        throw new DflParseException(s"unbound $$$n2")) match {
        case xs: Seq[_] => xs.map {
          case pair: Seq[_] if pair.size == 2 =>
            val id = pair.head match {
              case v: Number => v.longValue()
              case other     => other.toString.toLong
            }
            pair(1) match {
              case v: Seq[_] => id -> v.map(toDoubleAny)
              case other => throw new DflParseException(
                s"query batch entry for id $id is not a vector: $other")
            }
          case other => throw new DflParseException(
            s"expected [id, vector] pair in query batch, got $other")
        }
        case other => throw new DflParseException(s"$$$n2 is not a query batch: $other")
      }
      case other => throw new DflParseException(
        s"expected query-batch var arg: ${Node.render(other)}")
    }
    // a LEXICAL query batch: a $var bound to a Seq of [qid, 'terms str']
    // pairs — the HTTP request shape for batched bm25 probes, the
    // queryBatchArg convention with a terms string in the vector slot
    def termsBatchArg(i: Int): Seq[(Long, Seq[String])] = argAt(i) match {
      case Var(n2) => vars.getOrElse(n2,
        throw new DflParseException(s"unbound $$$n2")) match {
        case xs: Seq[_] => xs.map {
          case pair: Seq[_] if pair.size == 2 =>
            val id = pair.head match {
              case v: Number => v.longValue()
              case other     => other.toString.toLong
            }
            pair(1) match {
              case s: String =>
                val ts = s.split("\\s+").toSeq.filter(_.nonEmpty)
                if (ts.isEmpty) throw new DflParseException(
                  s"empty terms for qid $id in query batch")
                id -> ts
              case other => throw new DflParseException(
                s"terms for qid $id is not a string: $other")
            }
          case other => throw new DflParseException(
            s"expected [qid, terms] pair in query batch, got $other")
        }
        case other => throw new DflParseException(
          s"$$$n2 is not a query batch: $other")
      }
      case other => throw new DflParseException(
        s"expected query-batch var arg: ${Node.render(other)}")
    }
    // a query vector: a $var bound to a numeric Seq, or an inline array
    def optIntArg(i: Int): Option[Int] = if (args.size > i) Some(intArg(i)) else None
    // the probe stages' optional `refine` factor (ivfpq + keepVectors)
    def refineArg(stage: String, i: Int): Option[Int] = {
      val r = optIntArg(i)
      r.foreach(f => if (f < 1) throw new DflParseException(
        s"$stage: refine factor must be >= 1, got $f"))
      r
    }
    // a PREBUILT index dir as a probe source: bm25 and non-index dirs
    // keep their stage-specific errors (the ANN family itself comes from
    // the layout inside Ann.probe)
    def annDir(stage: String, dir: String, bm25Stage: String): Ann.Source =
      graft.llm.Similarity.indexKind(df.sparkSession, dir) match {
        case Some("bm25") => throw new DflParseException(
          s"$stage: '$dir' is a bm25 index — use $bm25Stage")
        case None => throw new DflParseException(
          s"$stage: '$dir' is not a built index dir")
        case _ => Ann.Dir(df.sparkSession, dir)
      }
    // a PREBUILT bm25 dir probed for a stage: a dir of another kind, or
    // none, keeps the stage's own error, naming its ANN twin
    def lexDirStage(stage: String, dir: String, annTwin: String,
                    p: Retrieval.Probe): DataFrame =
      try Retrieval.probe(Retrieval.Dir(df.sparkSession, dir), p)
      catch {
        case e: Retrieval.Rejected => throw new DflParseException(
          e.kind.fold(s"$stage: '$dir' is not a built index dir")(k =>
            s"$stage: '$dir' is a '$k' index — use $annTwin"))
      }
    def vecArg(i: Int): Seq[Double] = argAt(i) match {
      case Var(n2) => vars.getOrElse(n2,
        throw new DflParseException(s"unbound $$$n2")) match {
        case xs: Seq[_] => xs.map(toDoubleAny)
        case other => throw new DflParseException(s"$$$n2 is not a vector: $other")
      }
      case ArrayLit(xs) => xs.map {
        case Lit(v: Number) => v.doubleValue()
        // real embeddings have negative components, and the lexer has no
        // negative literals — '-0.2' arrives as Unary("-", 0.2)
        case Unary("-", Lit(v: Number)) => -v.doubleValue()
        case other => throw new DflParseException(
          s"expected numeric element: ${Node.render(other)}")
      }
      case other => throw new DflParseException(s"expected vector arg: ${Node.render(other)}")
    }

    name match {
      case "filter" => df.filter(subCol(1))
      case "map" =>
        sub(1) match {
          case DictLit(entries) =>
            val ctx = ColumnCompiler.Ctx.forDataFrame(df, vars)
            df.select(entries.map { case (k, v) =>
              ColumnCompiler.compile(v, ctx).as(ColumnCompiler.keyName(k))
            }: _*)
          case expr =>
            val c = ColumnCompiler.compile(expr, ColumnCompiler.Ctx.forDataFrame(df, vars))
            expr match {
              // mapping to a modified whole record keeps its columns
              case _: AugAssign | Attr("") =>
                val named = c.as("__r")
                df.select(named).select(col("__r.*"))
              case _ => df.select(c.as("value"))
            }
        }
      case "limit" => df.limit(intArg(1))
      case "sort" =>
        val desc = args.size > 2 && (args(2) match {
          case Lit(b: Boolean) => b
          case Lit("true")     => true
          case Lit("false")    => false
          // 'desc'/'asc'/typos must not silently sort ascending — the
          // reject-silently-ignored-config rule
          case other => throw new DflParseException(
            s"sort direction must be true|false, got ${Node.render(other)}")
        })
        val key = if (args.size > 1) subCol(1)
                  else if (df.columns.length == 1) col(df.columns.head)
                  else struct(df.columns.map(col).toIndexedSeq: _*)
        df.orderBy(if (desc) key.desc else key.asc)
      case "group" =>
        // grouped collect (reference: named/named.go:22). Keys may be a
        // composite `[k1, k2]`. Output: key cols + `items` array.
        val ctx = ColumnCompiler.Ctx.forDataFrame(df, vars)
        val keys = sub(1) match {
          case ArrayLit(ks) => ks.zipWithIndex.map { case (k, i) =>
            ColumnCompiler.compile(k, ctx).as(s"key$i") }
          case k => List(ColumnCompiler.compile(k, ctx).as("key"))
        }
        df.groupBy(keys: _*)
          .agg(collect_list(struct(df.columns.map(col).toIndexedSeq: _*)).as("items"))
      case "hist" =>
        // histogram: count per key (reference: examples/osm.sh:124); the
        // 2-arg nested form explodes the word-set of key2 per key1 value
        // (reference: examples/osm.sh:130). Partial (map-side) aggregation
        // is automatic because this stays a DataFrame `groupBy().count()`.
        val ctx = ColumnCompiler.Ctx.forDataFrame(df, vars)
        if (args.size <= 2) {
          df.groupBy(ColumnCompiler.compile(sub(1), ctx).as("key"))
            .count()
        } else {
          df.select(ColumnCompiler.compile(sub(1), ctx).as("key"),
                    explode(ColumnCompiler.compile(sub(2), ctx)).as("word"))
            .groupBy(col("key"), col("word")).count()
        }
      case "set"   => df.distinct()
      case "array" => df
      case "len" =>
        df.agg(count(lit(1)).as("len"))
      case "bbox" =>
        // dataset bbox over single-column coordinate pairs
        // (reference: examples/osm.sh:106): [w, s, e, n] as 4 columns.
        val c = col(df.columns.head)
        df.agg(
          min(c.getItem(0)).as("w"), min(c.getItem(1)).as("s"),
          max(c.getItem(0)).as("e"), max(c.getItem(1)).as("n"))

      // ---- LLM-pipeline dataset stages, backed by the library operators
      //      (graft.llm.Dedup / graft.llm.Similarity) so the DFL surface and
      //      the Scala API share one implementation and one scale design ----

      case "dedup" =>
        // exact dedup: `dedup(@, '@id', '@text')` keeps the smallest-id row
        // per normalized-text fingerprint, returning the surviving ORIGINAL
        // rows (one hash groupBy + a semi-join — never all-pairs)
        val base = df.withColumn("__gid", subCol(1)).withColumn("__gtext", subCol(2))
        val keep = graft.llm.Dedup.exact(base, "__gid", "__gtext")
          .select(col("keep_id").as("__gid"))
        base.join(keep, Seq("__gid"), "left_semi").drop("__gid", "__gtext")

      case "nearDedup" | "nearDupPairs" | "nearDupClusters" | "nearDedupClusters" =>
        // `nearDedup(@, '@id', '@text'[, threshold[, method]])` — survivors
        // after near-dup removal (greedy keep-smallest-id); `nearDupPairs`
        // returns the pair set itself; `nearDupClusters` the transitive
        // duplicate components as (id, rep); `nearDedupClusters` the
        // one-representative-per-component survivors.
        // method: minhash (default) | jaccard | simhash | cosine |
        // semantic | containment (directed near-subset pairs; survivors
        // drop the contained copy — subsumption arbitration)
        // (cosine/semantic treat arg 2 as the embedding column and
        // threshold as the cosine floor; simhash reads threshold as the
        // max Hamming distance, default 3; semantic takes optional
        // (kClusters, trainSample) cost knobs as args 5/6). All
        // candidate generation is banded/bucketed/clustered — the same
        // 100 TB shapes as the Scala API.
        val threshold = if (args.size > 3) numArg(3) else 0.8
        val method = if (args.size > 4) strArg(4) else "minhash"
        val base = df.withColumn("__gid", subCol(1)).withColumn("__gtext", subCol(2))
        val pairs = method match {
          case "minhash" =>
            graft.llm.Dedup.minhashPairs(base, "__gid", "__gtext", threshold)
          case "jaccard" =>
            graft.llm.Dedup.jaccardPairs(base, "__gid", "__gtext", threshold)
          case "simhash" =>
            val maxHamming = if (args.size > 3) numArg(3).toInt else 3
            graft.llm.Dedup.simhashPairs(base, "__gid", "__gtext", maxHamming)
          case "cosine" =>
            graft.llm.Dedup.cosinePairsBucketed(base, "__gid", "__gtext", threshold)
          case "semantic" =>
            // SemDeDup: arg 2 is the embedding column, threshold the
            // cosine floor; k-means clustering replaces banding as the
            // candidate generator (Dedup.semanticPairs). Optional args
            // 5/6 tune (kClusters, trainSample) — the answer is
            // clustering-invariant (bit-identical vectors co-cluster),
            // so these are purely cost knobs
            val kC = if (args.size > 5) intArg(5) else 64
            val tS = if (args.size > 6) intArg(6) else 4096
            graft.llm.Dedup.semanticPairs(base, "__gid", "__gtext", threshold,
              kClusters = kC, trainSample = tS)
          case "containment" =>
            // directed (contained, container) pairs — clusters don't
            // apply (the relation is asymmetric); survivors use the
            // subsumption arbitration below
            if (name == "nearDupClusters" || name == "nearDedupClusters")
              throw new DflParseException(
                "containment pairs are directed; cluster variants not supported")
            graft.llm.Dedup.containmentPairs(base, "__gid", "__gtext", threshold)
          case other => throw new DflParseException(s"unknown nearDedup method $other")
        }
        if (method == "containment" && name == "nearDedup")
          graft.llm.Dedup.containmentSurvivors(base, "__gid", pairs)
            .drop("__gid", "__gtext")
        else if (name == "nearDupPairs") pairs
        else if (name == "nearDupClusters")
          graft.llm.Dedup.duplicateClusters(pairs)
            .select(col("id"), col("rep"))
        else if (name == "nearDedupClusters")
          graft.llm.Dedup.clusterSurvivors(base, "__gid", pairs)
            .drop("__gid", "__gtext")
        else graft.llm.Dedup.survivors(base, "__gid", pairs).drop("__gid", "__gtext")

      case "cdcScrub" =>
        // `cdcScrub(@, '@id', '@text'[, k, d, seed])` — remove every
        // corpus-duplicated content-defined chunk and rebuild each
        // document row-locally (llm.Cdc.scrubDupChunks); whole-dataset
        // (the dup decision), hence stream-fenced.
        val base = df.withColumn("__gid", subCol(1)).withColumn("__gtext", subCol(2))
        val k = if (args.size > 3) intArg(3) else 3
        val d = if (args.size > 4) intArg(4) else 8
        val seed = if (args.size > 5) numArg(5).toLong else 7L
        graft.llm.Cdc.scrubDupChunks(base, "__gid", "__gtext", k, d, seed)

      case "cdcChunks" | "cdcPairs" =>
        // `cdcChunks(@, '@id', '@text'[, k, d, seed])` — content-defined
        // chunk rows (id, chunk_idx, n_toks, fp); `cdcPairs(@, '@id',
        // '@text'[, minShared, maxDf])` — documents sharing chunks
        // (id_a, id_b, n_shared), df-capped. The edit-robust dedup
        // primitive (llm.Cdc); chunking itself is row-local.
        val base = df.withColumn("__gid", subCol(1)).withColumn("__gtext", subCol(2))
        if (name == "cdcChunks") {
          val k = if (args.size > 3) intArg(3) else 3
          val d = if (args.size > 4) intArg(4) else 8
          val seed = if (args.size > 5) numArg(5).toLong else 7L
          graft.llm.Cdc.chunks(base, "__gid", "__gtext", k, d, seed)
        } else {
          val minShared = if (args.size > 3) intArg(3) else 1
          val maxDf = if (args.size > 4) intArg(4) else 64
          graft.llm.Cdc.sharedPairs(base, "__gid", "__gtext", minShared, maxDf)
        }

      case "imageDedupAgainst" =>
        // `imageDedupAgainst(@, '@id', '@payload', $ref[, maxHamming,
        // method])` — drop piped images with a perceptual near-dup in a
        // RETAINED reference corpus bound as a dataset var (the
        // new-crawl-vs-training-set posture for the image column; the
        // id/payload sub-expressions evaluate against BOTH frames).
        // Stream-fenced like its text siblings.
        if (args.size < 4 || args.size > 6) throw new DflParseException(
          "imageDedupAgainst takes (@, idExpr, payloadExpr, $ref[, maxHamming, method])")
        val iMaxHamming = if (args.size > 4) intArg(4) else 3
        val iMethod = if (args.size > 5) strArg(5) else "dhash"
        val iBase = df.withColumn("__gid", subCol(1))
          .withColumn("__gpayload", subCol(2))
        val iRefSrc = dsArg(3)
        val iRef = iRefSrc
          .withColumn("__gid", ColumnCompiler.compile(
            sub(1), ColumnCompiler.Ctx.forDataFrame(iRefSrc, vars)))
          .withColumn("__gpayload", ColumnCompiler.compile(
            sub(2), ColumnCompiler.Ctx.forDataFrame(iRefSrc, vars)))
        graft.llm.Dedup.survivorsAgainst(iBase, "__gid",
          graft.llm.Dedup.imagePairsAgainst(iBase, iRef, "__gid",
            "__gpayload", iMaxHamming, iMethod))
          .drop("__gid", "__gpayload")

      case "imageDedup" =>
        // `imageDedup(@, '@id', '@payload'[, maxHamming, method])` —
        // perceptual-hash image near-dup pairs (id_a, id_b, hamming):
        // dHash (default), aHash, or DCT pHash signatures, banded
        // Hamming candidate join, exact bit_count verify
        // (llm.Dedup.imagePairs). Whole-dataset (the self-join), hence
        // stream-fenced.
        val maxHamming = if (args.size > 3) intArg(3) else 3
        val method = if (args.size > 4) strArg(4) else "dhash"
        val base = df.withColumn("__gid", subCol(1))
          .withColumn("__gpayload", subCol(2))
        graft.llm.Dedup.imagePairs(base, "__gid", "__gpayload",
          maxHamming, method)

      case "bm25" =>
        // `bm25(@, '@id', '@text', 'terms', k[, k1, b])` — lexical
        // ranked retrieval over the stage's [[lexCorpus]]: a FILE-BACKED
        // corpus runs through the cached inverted-index lifecycle (the
        // annTopK posture — build once per fingerprint, every later
        // service exec is a partition-pruned posting probe instead of a
        // corpus rescan, value-identical by the index contract);
        // in-memory corpora take the direct one-scan probe. Corpus
        // statistics either way → stream-fenced.
        if (args.size < 5 || args.size > 7) throw new DflParseException(
          "bm25 takes (@, idExpr, textExpr, 'terms', k[, k1, b])")
        val bmTerms = strArg(3).split("\\s+").toSeq.filter(_.nonEmpty)
        if (bmTerms.isEmpty)
          throw new DflParseException("bm25: empty query terms")
        val bmK = intArg(4)
        if (bmK <= 0) throw new DflParseException("bm25: k must be positive")
        val bmK1 = if (args.size > 5) numArg(5) else 1.2
        val bmB = if (args.size > 6) numArg(6) else 0.75
        val bmBase = df.withColumn("__gid", subCol(1))
          .withColumn("__gtext", subCol(2))
        Retrieval.probe(lexCorpus(bmBase, "bm25"),
          Retrieval.Probe(Retrieval.One(bmTerms), bmK, k1 = bmK1, b = bmB))

      case "lineDedup" =>
        // `lineDedup(@, '@id', '@text'[, sep])` — corpus-wide line-level
        // exact dedup, first occurrence survives, documents re-assembled
        // (TextAnalysis.dedupLines — the C4 boilerplate scrub). The keep
        // decision is whole-corpus → stream-fenced.
        if (args.size < 3 || args.size > 4) throw new DflParseException(
          "lineDedup takes (@, idExpr, textExpr[, sep])")
        val ldSep = if (args.size > 3) strArg(3) else "\n"
        val ldBase = df.withColumn("__gid", subCol(1))
          .withColumn("__gtext", subCol(2))
        graft.llm.TextAnalysis.dedupLines(ldBase, "__gid", "__gtext", ldSep)

      case "sourceFilter" =>
        // `sourceFilter(@, '@id', '@text', '@source'[, maxDupRate,
        // minQuality])` — drop every document of a source whose
        // corpus-derived health crosses the block thresholds
        // (llm.Sources; quality = the built-in composite over the text).
        val maxDup = if (args.size > 4) numArg(4) else 0.5
        val minQ = if (args.size > 5) numArg(5) else 0.2
        val base = df.withColumn("__gid", subCol(1))
          .withColumn("__gtext", subCol(2)).withColumn("__gsrc", subCol(3))
        val q = round(graft.llm.TextAnalysis.qualityScore(
          col("__gtext"), length(col("__gtext"))), 6)
        graft.llm.Sources.sourceSurvivors(base, "__gid", "__gtext", "__gsrc",
          q, maxDup, minQ)

      case "sample" =>
        // `sample(@, '@id', fraction[, seed])` — deterministic id-keyed
        // sampling (Sampling.sampleByHash). A pure row-local filter, so
        // unlike the whole-dataset LLM stages it is STREAMABLE and left
        // out of StreamRunner.unstreamableFns on purpose.
        val frac = numArg(2)
        val seed = if (args.size > 3) numArg(3).toLong else 0L
        val base = df.withColumn("__gid", subCol(1))
        graft.llm.Sampling.sampleByHash(base, "__gid", frac, seed).drop("__gid")

      case "shard" =>
        // `shard(@, '@id', '@weight', shardWeight[, seed])` — balanced
        // output-shard assignment (Sampling.shardAssign): adds a `shard`
        // column such that each shard holds ~shardWeight total weight in
        // the deterministic hash order. Whole-dataset prefix sum →
        // stream-fenced.
        if (args.size < 4 || args.size > 5) throw new DflParseException(
          "shard takes (@, idExpr, weightExpr, shardWeight[, seed])")
        val shardW = numArg(3).toLong
        val seed = if (args.size > 4) numArg(4).toLong else 0L
        val base = df.withColumn("__gid", subCol(1)).withColumn("__gw", subCol(2))
        graft.llm.Sampling.shardAssign(base, "__gid", "__gw", shardW, seed)
          .drop("__gid", "__gw")

      case "mix" =>
        // `mix(@, '@id', '@domain', alpha[, seed])` — temperature-based
        // domain rebalancing (Sampling.temperatureMix): per-domain keep
        // fraction (n_min/n_d)^(1-alpha), id-keyed deterministic hash.
        // Needs whole-dataset counts → fenced out of stream mode.
        if (args.size < 4 || args.size > 5) throw new DflParseException(
          "mix takes (@, id, domain, alpha[, seed])")
        val alpha = numArg(3)
        val seed = if (args.size > 4) numArg(4).toLong else 0L
        val base = df.withColumn("__gid", subCol(1)).withColumn("__gdom", subCol(2))
        graft.llm.Sampling.temperatureMix(base, "__gid", "__gdom", alpha, seed)
          .drop("__gid", "__gdom")

      case "sessionize" =>
        // `sessionize(@, '@key', '@tsUs', gapUs, '@value')` — gaps-and-
        // islands sessions (Temporal.sessionStats): per-key sessions
        // breaking after gapUs of inactivity, emitting (key,
        // session_start_us, session_end_us, n_events, sum_value).
        // Whole-dataset window → fenced out of stream mode; the explicit
        // streaming analogue is StreamRunner.streamingSessions.
        if (args.size != 5) throw new DflParseException(
          "sessionize takes (@, key, tsUs, gapUs, value)")
        val gap = numArg(3).toLong
        val base = df.withColumn("__gkey", subCol(1))
          .withColumn("__gts", subCol(2)).withColumn("__gval", subCol(4))
        graft.temporal.Temporal.sessionStats(base, "__gkey", "__gts", gap, "__gval")
          .withColumnRenamed("__gkey", "key")

      case "cap" =>
        // `cap(@, '@id', '@domain', '@weight', budget[, seed])` — per-
        // domain budget cap (Sampling.budgetCap): keep rows in the
        // engine-exact id-hash order while the running weight total stays
        // within budget. Whole-domain window → unstreamable.
        if (args.size < 5 || args.size > 6) throw new DflParseException(
          "cap takes (@, id, domain, weight, budget[, seed])")
        val budget = numArg(4).toLong
        val seed = if (args.size > 5) numArg(5).toLong else 0L
        val base = df.withColumn("__gid", subCol(1))
          .withColumn("__gdom", subCol(2)).withColumn("__gw", subCol(3))
        graft.llm.Sampling.budgetCap(base, "__gid", "__gdom", "__gw",
          budget, seed).drop("__gid", "__gdom", "__gw")

      case "asof" =>
        // `asof(@, $right, '@key', '@ts'[, toleranceUs[, direction]])` —
        // as-of join (Temporal.asofJoin/asofJoinForward) against a
        // dataset var bound earlier in the pipeline or by the caller.
        // toleranceUs < 0 means unbounded; direction: 'backward'
        // (default, latest at-or-before) | 'forward' (earliest
        // at-or-after) | 'nearest' (min |Δts|, ties prefer backward).
        // The key/ts sub-expressions evaluate against BOTH
        // frames (like decontam's text expression); matched right
        // columns come back `asof_`-prefixed, NULL where nothing
        // qualifies.
        if (args.size < 4 || args.size > 6) throw new DflParseException(
          "asof takes (@, $right, key, ts[, toleranceUs[, direction]])")
        val tol = if (args.size > 4) Some(numArg(4).toLong).filter(_ >= 0)
          else None
        val direction = if (args.size > 5) strArg(5) match {
          case d @ ("forward" | "backward" | "nearest") => d
          case other => throw new DflParseException(
            s"unknown asof direction $other")
        } else "backward"
        val rightSrc = dsArg(1)
        // a plain '@col' reference uses the RAW column on both sides —
        // exactly the Scala-API call shape, so the right side's own ts/key
        // columns are excluded from the attached payload instead of
        // colliding with the generated asof_ts_us
        def rawOr(i: Int, tmp: String, l: DataFrame,
                  r: DataFrame): (String, DataFrame, DataFrame) =
          sub(i) match {
            case Attr(n) if l.columns.contains(n) && r.columns.contains(n) =>
              (n, l, r)
            case _ => (tmp,
              l.withColumn(tmp, ColumnCompiler.compile(sub(i),
                ColumnCompiler.Ctx.forDataFrame(l, vars))),
              r.withColumn(tmp, ColumnCompiler.compile(sub(i),
                ColumnCompiler.Ctx.forDataFrame(r, vars))))
          }
        val (keyName, l1, r1) = rawOr(2, "__gkey", df, rightSrc)
        val (tsName, l2, r2) = rawOr(3, "__gts", l1, r1)
        (direction match {
          case "forward" =>
            graft.temporal.Temporal.asofJoinForward(l2, r2, Seq(keyName),
              tsName, tsName, toleranceUs = tol)
          case "nearest" =>
            graft.temporal.Temporal.asofJoinNearest(l2, r2, Seq(keyName),
              tsName, tsName, toleranceUs = tol)
          case _ =>
            graft.temporal.Temporal.asofJoin(l2, r2, Seq(keyName),
              tsName, tsName, toleranceUs = tol)
        }).drop("__gkey", "__gts")

      case "tokenize" =>
        // `tokenize(@, '@id', '@text'[, topV])` — map the corpus to its
        // own top-V vocabulary ids (TextAnalysis.tokenizeIds over
        // vocabulary()): (id, n_tok, ids_str). Whole-corpus vocab →
        // unstreamable.
        if (args.size < 3 || args.size > 4) throw new DflParseException(
          "tokenize takes (@, id, text[, topV])")
        val topV = if (args.size > 3) intArg(3) else 1000
        val base = df.withColumn("__gid", subCol(1)).withColumn("__gtext", subCol(2))
        graft.llm.TextAnalysis.tokenizeIds(base, "__gid", "__gtext",
            graft.llm.TextAnalysis.vocabulary(base, "__gtext", topV))
          .withColumnRenamed("__gid", "id")

      case "profile" =>
        // `profile(@, 'col'[, 'col' …])` — one-pass dataset profile
        // (util.Profile): (col, n_null, n_distinct, min_str, max_str).
        if (args.size < 2) throw new DflParseException(
          "profile takes (@, col[, col ...])")
        graft.util.Profile.profile(df, (1 until args.size).map(strArg))

      case "topk" =>
        // `topk(@, '@key', '@order', k)` — grouped top-k: the k rows per
        // key with the LARGEST order value, deterministic ties by the
        // order value then the row's key ordering is caller-defined via
        // a second order expression: `topk(@, '@key', '@order', k
        // [, '@tiebreak'])`. Adds `rn` (1-based rank). The reference has
        // only global sort+limit; per-group top-k is the extension every
        // leaderboard/feature query needs. One shuffle on the key.
        if (args.size < 4 || args.size > 5) throw new DflParseException(
          "topk takes (@, key, order, k[, tiebreak])")
        val k = intArg(3)
        if (k <= 0) throw new DflParseException("topk: k must be positive")
        val base0 = df.withColumn("__gkey", subCol(1)).withColumn("__gord", subCol(2))
        val (base, tiebreak) =
          if (args.size > 4)
            (base0.withColumn("__gtie", subCol(4)), Seq(col("__gtie").asc))
          else (base0, Nil)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("__gkey"))
          .orderBy(col("__gord").desc +: tiebreak: _*)
        base.withColumn("rn", row_number().over(w).cast("long"))
          .filter(col("rn") <= k)
          .drop("__gkey", "__gord", "__gtie")

      case "rolling" =>
        // `rolling(@, '@key', '@tsUs', '@value', windowUs)` — trailing
        // event-time RANGE frame per key: adds roll_sum (rounded 2) and
        // roll_n over [ts - windowUs, ts]. A sliding accumulator, not
        // the quadratic self-join shape.
        if (args.size != 5) throw new DflParseException(
          "rolling takes (@, key, tsUs, value, windowUs)")
        val win = numArg(4).toLong
        if (win < 0) throw new DflParseException(
          "rolling: windowUs must be non-negative")
        val base = df.withColumn("__gkey", subCol(1))
          .withColumn("__gts", subCol(2)).withColumn("__gval", subCol(3))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("__gkey")).orderBy(col("__gts"))
          .rangeBetween(-win, 0L)
        base.withColumn("roll_sum", round(sum(col("__gval")).over(w), 2))
          .withColumn("roll_n", count(lit(1)).over(w))
          .drop("__gkey", "__gts", "__gval")

      case "dedupAgainst" | "dupPairsAgainst" =>
        // `dedupAgainst(@, '@id', '@text', $ref[, threshold[, method]])` —
        // cross-corpus dedup of the piped corpus AGAINST a reference
        // snapshot bound as a dataset var (the new-crawl-vs-prior-
        // training-set shape). Every matched left row drops — the
        // reference side is retained by definition. method: minhash
        // (default, banded) | jaccard (exact PPJoin) | containment
        // (left rows ≥ t-contained in a reference doc) | exact
        // (normalized-fingerprint anti-join; threshold ignored).
        // `dupPairsAgainst` returns the cross pair set itself.
        if (args.size < 4 || args.size > 6) throw new DflParseException(
          s"$name takes (@, idExpr, textExpr, $$ref[, threshold[, method]])")
        val threshold = if (args.size > 4) numArg(4) else 0.8
        val method = if (args.size > 5) strArg(5) else "minhash"
        val base = df.withColumn("__gid", subCol(1)).withColumn("__gtext", subCol(2))
        val refSrc = dsArg(3)
        val refBase = refSrc
          .withColumn("__gid", ColumnCompiler.compile(
            sub(1), ColumnCompiler.Ctx.forDataFrame(refSrc, vars)))
          .withColumn("__gtext", ColumnCompiler.compile(
            sub(2), ColumnCompiler.Ctx.forDataFrame(refSrc, vars)))
        if (method == "exact") {
          if (name == "dupPairsAgainst") throw new DflParseException(
            "dupPairsAgainst has no 'exact' method (no jaccard to report); use dedupAgainst")
          graft.llm.Dedup.exactSurvivorsAgainst(base, refBase, "__gid", "__gtext")
            .drop("__gid", "__gtext")
        } else {
          val pairs = method match {
            case "minhash" =>
              graft.llm.Dedup.minhashPairsAgainst(base, refBase, "__gid", "__gtext", threshold)
            case "jaccard" =>
              graft.llm.Dedup.jaccardPairsAgainst(base, refBase, "__gid", "__gtext", threshold)
            case "containment" =>
              graft.llm.Dedup.containmentPairsAgainst(base, refBase, "__gid", "__gtext", threshold)
            case other => throw new DflParseException(s"unknown $name method $other")
          }
          if (name == "dupPairsAgainst") pairs
          else graft.llm.Dedup.survivorsAgainst(base, "__gid", pairs)
            .drop("__gid", "__gtext")
        }

      case "join" =>
        // `join(@, $right, '@lkey', '@rkey'[, type])` — plain equi-join
        // against a dataset var (inner default; left | semi | anti).
        // The left key evaluates against the piped frame, the right key
        // against the bound one. Right-side columns colliding with a
        // left name come back `r_`-prefixed, so the stage never
        // silently drops or duplicates a column. The reference engine
        // has no join; this is library surface (Spark's join at zero
        // cost), kept deliberately minimal — richer shapes (asof, range,
        // diff, dedupAgainst) have their own stages.
        if (args.size < 4 || args.size > 6) throw new DflParseException(
          "join takes (@, $right, leftKeyExpr, rightKeyExpr[, type[, hint]])")
        val joinType = if (args.size > 4) strArg(4) match {
          case "inner" => "inner"
          case "left"  => "left"
          case "semi"  => "left_semi"
          case "anti"  => "left_anti"
          case other => throw new DflParseException(
            s"unknown join type $other (inner|left|semi|anti)")
        } else "inner"
        // optional arg 5: 'broadcast' forces the right (dataset-var) side
        // to broadcast — the explicit dim-table lever when AQE's stats
        // can't see that the bound table is small (e.g. behind a filter);
        // 'shuffle' is the explicit no-hint spelling
        val joinHint = if (args.size > 5) strArg(5) match {
          case "broadcast" => true
          case "shuffle" => false
          case other => throw new DflParseException(
            s"unknown join hint $other (broadcast|shuffle)")
        } else false
        val rightSrc2 = dsArg(1)
        val leftK = df.withColumn("__gjk", subCol(2))
        val rightK0 = rightSrc2.withColumn("__gjk", ColumnCompiler.compile(
          sub(3), ColumnCompiler.Ctx.forDataFrame(rightSrc2, vars)))
        // disambiguate collisions BEFORE the join: every right column
        // colliding with a left name gets the r_ prefix
        val rightK = rightK0.columns.filter(_ != "__gjk")
          .foldLeft(rightK0) { (acc, c) =>
            if (leftK.columns.contains(c)) {
              // the prefixed name can itself collide (a left column
              // already named r_<c>) — keep prefixing until free, so
              // the promise "never silently duplicates a column" holds
              var nn = s"r_$c"
              while (leftK.columns.contains(nn) || acc.columns.contains(nn))
                nn = s"r_$nn"
              acc.withColumnRenamed(c, nn)
            } else acc
          }
        leftK.join(if (joinHint) broadcast(rightK) else rightK,
          Seq("__gjk"), joinType).drop("__gjk")

      case "freqItems" =>
        // `freqItems(@, '@col'[, capacity])` — Misra–Gries heavy-hitter
        // summary (functions.FreqItemsAgg) unpivoted to (pos, item, cnt)
        // rows. Whole-dataset aggregation → stream-fenced.
        if (args.size < 2 || args.size > 3) throw new DflParseException(
          "freqItems takes (@, itemExpr[, capacity])")
        val cap = if (args.size > 2) intArg(2) else 64
        df.withColumn("__gitem", subCol(1))
          .agg(graft.functions.FreqF.freqItems(col("__gitem"), cap).as("hh"))
          .select(posexplode(col("hh")).as(Seq("pos", "e")))
          .select(col("pos"), col("e.item").as("item"), col("e.cnt").as("cnt"))

      case "scale" =>
        // `scale(@, '@col', method[, pLow, pHigh])` — robust numeric
        // feature scaling (util.Stats): winsorize | zscore | minmax,
        // scaled value appended as `scaled`. Whole-dataset stats →
        // stream-fenced.
        if (args.size < 3 || args.size > 5) throw new DflParseException(
          "scale takes (@, expr, method[, pLow, pHigh])")
        val base = df.withColumn("__gv", subCol(1))
        val scaled = strArg(2) match {
          case "winsorize" =>
            val pLow = if (args.size > 3) numArg(3) else 0.05
            val pHigh = if (args.size > 4) numArg(4) else 0.95
            graft.util.Stats.winsorize(base, "__gv", pLow, pHigh)
              .withColumnRenamed("__gv_w", "scaled")
          case "zscore" =>
            graft.util.Stats.zscore(base, "__gv")
              .withColumnRenamed("__gv_z", "scaled")
          case "minmax" =>
            graft.util.Stats.minmax(base, "__gv")
              .withColumnRenamed("__gv_mm", "scaled")
          case other => throw new DflParseException(
            s"unknown scale method $other (winsorize|zscore|minmax)")
        }
        scaled.drop("__gv")

      case "pool" =>
        // `pool(@, '@group', '@vec')` — mean-pool embeddings per group
        // (Embeddings.meanPool): (group, pooled, n_chunks). The chunk→
        // document step; whole-dataset aggregation → stream-fenced.
        if (args.size != 3) throw new DflParseException(
          "pool takes (@, groupExpr, vecExpr)")
        val base = df.withColumn("__gkey", subCol(1)).withColumn("__gvec", subCol(2))
        graft.llm.Embeddings.meanPool(base, "__gkey", "__gvec")
          .withColumnRenamed("__gkey", "g")

      case "diff" =>
        // `diff(@, '@id', '@cmpExpr', $old)` — snapshot diff of the
        // piped (NEW) dataset against an old snapshot bound as a dataset
        // var: (id, change ∈ added|removed|changed), identical rows
        // dropped. The compare expression evaluates against each
        // snapshot's own columns; comparison is null-safe.
        if (args.size != 4) throw new DflParseException(
          s"diff takes (@, idExpr, cmpExpr, $$old)")
        val base = df.withColumn("__gid", subCol(1)).withColumn("__gcmp", subCol(2))
        val oldSrc = dsArg(3)
        val oldBase = oldSrc
          .withColumn("__gid", ColumnCompiler.compile(
            sub(1), ColumnCompiler.Ctx.forDataFrame(oldSrc, vars)))
          .withColumn("__gcmp", ColumnCompiler.compile(
            sub(2), ColumnCompiler.Ctx.forDataFrame(oldSrc, vars)))
        graft.util.Snapshot.diff(oldBase, base, "__gid", Seq("__gcmp"))
          .withColumnRenamed("__gid", "id")

      case "dsir" =>
        // `dsir(@, '@id', '@text', $target[, k[, buckets]])` — DSIR
        // importance scoring of the piped corpus against a target-domain
        // corpus bound as a dataset var (Dsir.dsirScores). With `k`,
        // returns the deterministic Gumbel-top-k resample instead
        // (Dsir.dsirResample). Same 100 TB shape as the Scala API: the
        // ratio table broadcasts, scoring is one explode-aggregate.
        if (args.size < 4 || args.size > 6) throw new DflParseException(
          s"dsir takes (@, idExpr, textExpr, $$target[, k[, buckets]])")
        val buckets = if (args.size > 5) intArg(5) else 1024
        val base = df.withColumn("__gid", subCol(1)).withColumn("__gtext", subCol(2))
        val tgtSrc = dsArg(3)
        val tgt = tgtSrc.withColumn("__gtext", ColumnCompiler.compile(
          sub(2), ColumnCompiler.Ctx.forDataFrame(tgtSrc, vars)))
        if (args.size > 4)
          graft.llm.Dsir.dsirResample(base, tgt, "__gid", "__gtext",
            k = intArg(4), buckets = buckets)
        else
          graft.llm.Dsir.dsirScores(base, tgt, "__gid", "__gtext", buckets)

      case "dsirScore" =>
        // `dsirScore(@, '@id', '@text', $model[, buckets[, seed]])` —
        // score the piped corpus against a FROZEN Dsir.fit ratio table
        // bound as a dataset var (train once, score many — how a curated
        // domain model applies across snapshots). Whole-corpus per-doc
        // aggregation → stream-fenced; the streaming analogue is
        // StreamRunner.streamingDsirFilter / the --stream-dsir CLI flag.
        if (args.size < 4 || args.size > 6) throw new DflParseException(
          s"dsirScore takes (@, idExpr, textExpr, $$model[, buckets[, seed]])")
        val sBuckets = if (args.size > 4) intArg(4) else 1024
        val sSeed = if (args.size > 5) numArg(5).toLong else 7L
        val sBase = df.withColumn("__gid", subCol(1)).withColumn("__gtext", subCol(2))
        graft.llm.Dsir.scoreWith(sBase, "__gid", "__gtext", dsArg(3),
          sBuckets, sSeed)

      case "bpeSegment" =>
        // `bpeSegment(@, '@id', '@text', $merges)` — segment with a
        // learned BPE merge table bound as a dataset var ((rank, left,
        // right[, freq]) rows; rank order is the replay order). The
        // merge table is vocabulary-bounded, so collecting it at plan
        // time is the broadcast-a-model shape; segmentation itself is
        // row-local ([[graft.llm.Bpe.segmentCol]]) → STREAMABLE, the
        // frozen-tokenizer serve path. Optional 5th arg 'byte' selects
        // the byte-level alphabet (GPT-2 mapped bytes, lossless decode).
        if (args.size != 4 && args.size != 5) throw new DflParseException(
          s"bpeSegment takes (@, idExpr, textExpr, $$merges[, mode])")
        val byteMode = args.size == 5 && (strArg(4) match {
          case "byte" => true
          case "char" => false
          case other => throw new DflParseException(
            s"bpeSegment mode must be 'byte' or 'char', got $other")
        })
        val mergeRows = dsArg(3).select(col("rank").cast("int"),
            col("left").cast("string"), col("right").cast("string"))
          .collect().sortBy(_.getInt(0))
          .map(r => graft.llm.Bpe.Merge(r.getInt(0), r.getString(1),
            r.getString(2), 0L)).toSeq
        val bBase = df.withColumn("__gid", subCol(1)).withColumn("__gtext", subCol(2))
        if (byteMode) graft.llm.Bpe.segmentByte(bBase, "__gid", "__gtext", mergeRows)
        else graft.llm.Bpe.segment(bBase, "__gid", "__gtext", mergeRows)

      case "quantiles" =>
        // `quantiles(@, '@grp', '@x'[, k])` — per-group (n, p25, p50,
        // p90) via the mergeable quantile-sketch table
        // (util.Sketches.qsBuild): one scan, map-side-combined sketch
        // partials, exact while a group stays under k. Whole-dataset
        // aggregation → unstreamable.
        if (args.size != 3 && args.size != 4) throw new DflParseException(
          "quantiles takes (@, grpExpr, valueExpr[, k])")
        val qK = if (args.size > 3) intArg(3) else 8192
        val qBase = df.withColumn("__ggrp", subCol(1))
          .withColumn("__gx", subCol(2))
        graft.util.Sketches.qsBuild(qBase, "__ggrp", "__gx", qK)
          .select(col("__ggrp").as("grp"),
            graft.util.Sketches.qsStats(col("sketch"),
              Seq(0.25, 0.5, 0.9)).as("__s"))
          .select(col("grp"), col("__s.n").as("n"),
            col("__s.q")(0).as("p25"), col("__s.q")(1).as("p50"),
            col("__s.q")(2).as("p90"))

      case "mmr" =>
        // `mmr(@, '@id', '@score', '@vec', k[, lambda])` — MMR
        // diversified re-ranking of the CURRENT dataset as the
        // candidate pool (apply after a bm25/annTopK stage): pick k
        // greedily by λ·score − (1−λ)·max-cosine-to-selected. One
        // bounded aggregate over an already-top-k pool — see
        // Retrieval.mmrRerank. Whole-dataset context → unstreamable.
        if (args.size != 5 && args.size != 6) throw new DflParseException(
          "mmr takes (@, idExpr, scoreExpr, vecExpr, k[, lambda])")
        val mmrK = intArg(4)
        val mmrLambda = if (args.size > 5) numArg(5) else 0.7
        val mBase = df.withColumn("__gid", subCol(1))
          .withColumn("__gscore", subCol(2)).withColumn("__gvec", subCol(3))
        graft.llm.Retrieval.mmrRerank(mBase, "__gid", "__gscore", "__gvec",
          mmrK, mmrLambda)

      case "rankEval" =>
        // `rankEval(@, '@qid', '@id', '@rnk', $qrels, k)` — TREC-style
        // evaluation of the CURRENT dataset as a retrieval run against
        // a judgments table bound as a dataset var ((qid, id[, rel])
        // rows): per judged query (qid, n_rel, n_ret, hits, recall,
        // precision, rr, ndcg) — llm.Retrieval.evalRun. Whole-dataset
        // grouping → stream-fenced.
        if (args.size != 6) throw new DflParseException(
          "rankEval takes (@, qidExpr, idExpr, rnkExpr, $qrels, k)")
        val reK = intArg(5)
        val reBase = df.select(subCol(1).as("qid"), subCol(2).as("id"),
          subCol(3).as("rnk"))
        graft.llm.Retrieval.evalRun(reBase, dsArg(4), reK)

      case "hybrid" =>
        // `hybrid(@, '@id', '@text', '@vec', 'terms', $qvec, k[, lambda])`
        // — the full hybrid retrieval stack as ONE stage: a BM25 lexical
        // run (through the cached inverted-index lifecycle when the
        // corpus is file-backed — repeated service execs probe
        // partition-pruned postings instead of rescanning; ad-hoc
        // in-memory corpora take the direct scan) ⊕ a brute-cosine
        // semantic run against $qvec, fused by reciprocal-rank fusion.
        // Each run retrieves a 2k candidate pool; without `lambda` the
        // result is the RRF top-k (id, score, rnk); WITH `lambda` the
        // fused 2k pool is re-ranked by MMR diversification to
        // (id, score, mmr, rnk). Whole-dataset statistics + index
        // builds → stream-fenced (serve-bm25/serve-ann are the
        // streaming serving surfaces).
        if (args.size < 7 || args.size > 8) throw new DflParseException(
          "hybrid takes (@, idExpr, textExpr, vecExpr, 'terms', $qvec, k[, lambda])")
        val hyTerms = strArg(4).split("\\s+").toSeq.filter(_.nonEmpty)
        if (hyTerms.isEmpty)
          throw new DflParseException("hybrid: empty query terms")
        val hyQ = vecArg(5)
        val hyK = intArg(6)
        if (hyK <= 0) throw new DflParseException("hybrid: k must be positive")
        val hyLambda = if (args.size > 7) Some(numArg(7)) else None
        hyLambda.foreach(l => if (l < 0.0 || l > 1.0)
          throw new DflParseException(s"hybrid: lambda must be in [0,1], got $l"))
        val pool = 2 * hyK
        val hyBase = df.withColumn("__gid", subCol(1))
          .withColumn("__gtext", subCol(2)).withColumn("__gvec", subCol(3))
        val lex = Retrieval.probe(lexCorpus(hyBase, "bm25"),
            Retrieval.Probe(Retrieval.One(hyTerms), pool))
          .select("id", "rnk")
        // this ranks ONLY bruteForceTopK's already-bounded ≤2k pool
        // (the heap ran distributed; this numbers its tiny output), so
        // the single-partition move is serving-sized by construction.
        // The non-foldable constant key (the shardAssign idiom) writes
        // that into the plan instead of tripping WindowExec's
        // global-window warning in every gate log
        val semW = org.apache.spark.sql.expressions.Window
          .partitionBy(pmod(col("id"), lit(1)))
          .orderBy(col("cos").desc, col("id").asc)
        val sem = graft.llm.Similarity.bruteForceTopK(
            hyBase.select(col("__gid"), col("__gvec")), "__gid", "__gvec",
            hyQ, pool)
          .withColumn("rnk", row_number().over(semW).cast("long"))
          .select("id", "rnk")
        hyLambda match {
          case None => graft.llm.Retrieval.rrfFuse(Seq(lex, sem), hyK)
          case Some(l) =>
            val fused = graft.llm.Retrieval.rrfFuse(Seq(lex, sem), pool)
              .select("id", "score")
            val cands = hyBase
              .select(col("__gid").as("id"), col("__gvec").as("vec"))
              .join(broadcast(fused), Seq("id"))
            graft.llm.Retrieval.mmrRerank(cands, "id", "score", "vec",
              hyK, l)
        }

      case "hybridFiltered" =>
        // `hybridFiltered(@, '@id', '@text', '@vec', 'terms', $qvec, k,
        // 'pred'[, lambda])` — the hybrid stack restricted to the
        // predicate-satisfying slice of the corpus with CORPUS-GLOBAL
        // lexical statistics (the bm25_filtered contract): the BM25 leg
        // scores over the full corpus and ranks only pred rows (indexed
        // corpora through the cached FILTERED lifecycle — the
        // predicate's attribute set rides into the postings as
        // metaCols, the annTopKFiltered convention; below-threshold
        // corpora through the direct filtered scan), the cosine leg
        // brute-ranks the pred rows, RRF fuses the 2k pools, and
        // `lambda` optionally MMR-re-ranks. Whole-dataset statistics +
        // index builds → stream-fenced (serve-hybrid is the streaming
        // serving surface).
        if (args.size < 8 || args.size > 9) throw new DflParseException(
          "hybridFiltered takes (@, idExpr, textExpr, vecExpr, 'terms', $qvec, k, 'pred'[, lambda])")
        val hfTerms = strArg(4).split("\\s+").toSeq.filter(_.nonEmpty)
        if (hfTerms.isEmpty)
          throw new DflParseException("hybridFiltered: empty query terms")
        val hfQ = vecArg(5)
        val hfK = intArg(6)
        if (hfK <= 0)
          throw new DflParseException("hybridFiltered: k must be positive")
        val hfPredNode = sub(7)
        val hfLambda = if (args.size > 8) Some(numArg(8)) else None
        hfLambda.foreach(l => if (l < 0.0 || l > 1.0)
          throw new DflParseException(
            s"hybridFiltered: lambda must be in [0,1], got $l"))
        val hfPool = 2 * hfK
        val hfBase = df.withColumn("__gid", subCol(1))
          .withColumn("__gtext", subCol(2)).withColumn("__gvec", subCol(3))
        // the predicate compiles UNBOUND (plain col(name), the
        // annTopKFiltered posture): the filtered index probes apply it
        // to the INDEX frame, where a df-bound reference would fail to
        // re-resolve; its attribute set IS the metadata column list
        val hfMeta = attrNames(hfPredNode)
          .filterNot(Set("__gid", "__gtext", "__gvec")).toSeq.sorted
        val hfSchema = hfBase.schema
        val hfPred = ColumnCompiler.compile(hfPredNode, ColumnCompiler.Ctx(
          resolveAttr = nm => col(nm),
          whole = () => struct(hfBase.columns.map(col).toIndexedSeq: _*),
          vars = vars,
          attrType = nm => hfSchema.fields.find(_.name == nm).map(_.dataType)))
        val hfLex = Retrieval.probe(
            lexCorpus(hfBase, s"bm25-filtered|${hfMeta.mkString(",")}", hfMeta),
            Retrieval.Probe(Retrieval.One(hfTerms), hfPool, Some(hfPred)))
          .select("id", "rnk")
        // bounded-pool rank under a constant key — see the hybrid
        // stage's note
        val hfSemW = org.apache.spark.sql.expressions.Window
          .partitionBy(pmod(col("id"), lit(1)))
          .orderBy(col("cos").desc, col("id").asc)
        val hfSem = graft.llm.Similarity.bruteForceTopK(
            hfBase.filter(hfPred).select(col("__gid"), col("__gvec")),
            "__gid", "__gvec", hfQ, hfPool)
          .withColumn("rnk", row_number().over(hfSemW).cast("long"))
          .select("id", "rnk")
        hfLambda match {
          case None => graft.llm.Retrieval.rrfFuse(Seq(hfLex, hfSem), hfK)
          case Some(l) =>
            val fused = graft.llm.Retrieval.rrfFuse(Seq(hfLex, hfSem), hfPool)
              .select("id", "score")
            val cands = hfBase
              .select(col("__gid").as("id"), col("__gvec").as("vec"))
              .join(broadcast(fused), Seq("id"))
            graft.llm.Retrieval.mmrRerank(cands, "id", "score", "vec",
              hfK, l)
        }

      case "annProbe" =>
        // `annProbe(@, $idx, $q, k[, tuning[, refine]])` — top-k cosine
        // probe of a PREBUILT, PERSISTENT ANN index: `$idx` is an
        // `index:REF` catalog var (catalog/Exec resolves + validates it)
        // or a literal built dir; the family comes from the index's OWN
        // layout (lsh | ivf | ivfpq). The piped dataset is NOT scanned:
        // the index already is the corpus (built by ingest-ann /
        // Ann.ensure / serve-ann --build-from), so a catalog service
        // probes at zero build cost. `tuning`: lsh → minCandidates,
        // ivf/ivfpq → nprobe. `refine` N (ivfpq + keepVectors only):
        // compressed ADC nominates k×N candidates, TRUE cosines from the
        // float sidecar rerank. One frozen query → stream-fenced
        // (serve-ann answers query STREAMS).
        if (args.size < 4 || args.size > 6) throw new DflParseException(
          "annProbe takes (@, $indexDir, $query, k[, tuning[, refine]])")
        val apK = intArg(3)
        if (apK <= 0) throw new DflParseException("annProbe: k must be positive")
        val apRefine = refineArg("annProbe", 5)
        annStage("annProbe", annDir("annProbe", strArg(1), "bm25Probe"),
          Ann.Probe(Ann.One(vecArg(2)),
            Ann.TopK(apK), tuning = optIntArg(4), refine = apRefine))

      case "annProbeFiltered" =>
        // `annProbeFiltered(@, $idx, $q, k, 'pred'[, tuning[, refine]])`
        // — FILTERED top-k probe of a PREBUILT index: `pred` is a DFL
        // boolean over the index's stored columns (id + the build's
        // metaCols), compiled by [[indexPredicate]] so it pushes into
        // the pruned parquet read; every family widens its probe until
        // k ELIGIBLE candidates survive (the serving `--filter` shape,
        // exposed to catalog/process users). With `refine` N (ivfpq +
        // keepVectors) the widening loop NOMINATES at k×N eligible per
        // round and the float sidecar reranks with TRUE cosines. One
        // frozen query → stream-fenced.
        if (args.size < 5 || args.size > 7) throw new DflParseException(
          "annProbeFiltered takes (@, $indexDir, $query, k, 'pred'" +
            "[, tuning[, refine]])")
        val afK = intArg(3)
        if (afK <= 0)
          throw new DflParseException("annProbeFiltered: k must be positive")
        val afPred = indexPredicate(strArg(4))
        val afRefine = refineArg("annProbeFiltered", 6)
        annStage("annProbeFiltered",
          annDir("annProbeFiltered", strArg(1), "bm25Probe"),
          Ann.Probe(Ann.One(vecArg(2)),
            Ann.TopK(afK), Some(afPred), optIntArg(5), afRefine))

      case "annRangeProbe" =>
        // `annRangeProbe(@, $idx, $q, minCos[, tuning[, refine]])` —
        // RANGE probe of a PREBUILT, PERSISTENT index (`index:REF` var
        // or literal dir): every id whose cosine clears `minCos`. lsh |
        // ivf score TRUE cosines; ivfpq thresholds its reconstruction-
        // cosine contract, or with `refine` N (requires the keepVectors
        // sidecar) nominates at a loosened threshold (0.05·N slack, the
        // serve-ann contract) and verifies TRUE cosines exactly.
        // `tuning`: lsh → slackBits, ivf/ivfpq → nprobe. One frozen
        // query → stream-fenced.
        if (args.size < 4 || args.size > 6) throw new DflParseException(
          "annRangeProbe takes (@, $indexDir, $query, minCos[, tuning[, refine]])")
        val arRefine = refineArg("annRangeProbe", 5)
        annStage("annRangeProbe",
          annDir("annRangeProbe", strArg(1), "bm25Probe"),
          Ann.Probe(Ann.One(vecArg(2)),
            Ann.Range(numArg(3)), tuning = optIntArg(4),
            refine = arRefine))

      case "bm25Probe" =>
        // `bm25Probe(@, $idx, 'terms', k[, k1, b])` — BM25 top-k probe
        // of a PREBUILT, PERSISTENT inverted index (`index:REF` var or
        // literal dir): band-pruned posting reads, zero-job warm
        // planning, never a corpus scan or a cache build — the lexical
        // twin of annProbe. One frozen query → stream-fenced.
        if (args.size < 4 || args.size > 6) throw new DflParseException(
          "bm25Probe takes (@, $indexDir, 'terms', k[, k1, b])")
        val bpDir = strArg(1)
        val bpTerms = strArg(2).split("\\s+").toSeq.filter(_.nonEmpty)
        if (bpTerms.isEmpty)
          throw new DflParseException("bm25Probe: empty query terms")
        val bpK = intArg(3)
        if (bpK <= 0) throw new DflParseException("bm25Probe: k must be positive")
        val bpK1 = if (args.size > 4) numArg(4) else 1.2
        val bpB = if (args.size > 5) numArg(5) else 0.75
        lexDirStage("bm25Probe", bpDir, "annProbe",
          Retrieval.Probe(Retrieval.One(bpTerms), bpK, k1 = bpK1, b = bpB))

      case "annProbeBatch" =>
        // `annProbeBatch(@, $idx, $qs, k[, tuning[, refine]])` — the
        // BATCH twin of annProbe: every (qid, vector) of `$qs` (the
        // annTopKBatch [id, vector]-pair request shape) probes the
        // PREBUILT index in ONE pruned union read, batch ≡ per-query by
        // the family contract. The piped dataset is never scanned.
        // Stream-fenced (serve-ann answers query STREAMS).
        if (args.size < 4 || args.size > 6) throw new DflParseException(
          "annProbeBatch takes (@, $indexDir, $queries, k[, tuning[, refine]])")
        val abK = intArg(3)
        if (abK <= 0)
          throw new DflParseException("annProbeBatch: k must be positive")
        val abRefine = refineArg("annProbeBatch", 5)
        annStage("annProbeBatch",
          annDir("annProbeBatch", strArg(1), "bm25ProbeBatch"),
          Ann.Probe(Ann.Batch(queryBatchArg(2)),
            Ann.TopK(abK), tuning = optIntArg(4), refine = abRefine))

      case "bm25ProbeBatch" =>
        // `bm25ProbeBatch(@, $idx, $queries, k[, k1, b])` — batched BM25
        // probes of a PREBUILT inverted index: `$queries` holds
        // [qid, 'terms string'] pairs; ONE pruned posting read for the
        // union of all term bands, each slice ≡ bm25Probe. Stream-fenced.
        if (args.size < 4 || args.size > 6) throw new DflParseException(
          "bm25ProbeBatch takes (@, $indexDir, $queries, k[, k1, b])")
        val bbDir = strArg(1)
        val bbQs = termsBatchArg(2)
        val bbK = intArg(3)
        if (bbK <= 0)
          throw new DflParseException("bm25ProbeBatch: k must be positive")
        val bbK1 = if (args.size > 4) numArg(4) else 1.2
        val bbB = if (args.size > 5) numArg(5) else 0.75
        lexDirStage("bm25ProbeBatch", bbDir, "annProbeBatch",
          Retrieval.Probe(Retrieval.Batch(bbQs), bbK, k1 = bbK1, b = bbB))

      case "hybridProbe" =>
        // `hybridProbe(@, $bmIdx, $annIdx, 'terms', $qvec, k[, lambda])`
        // — the FULL hybrid stack served from two PREBUILT persistent
        // indexes (`index:REF` catalog vars or literal dirs): an indexed
        // BM25 lexical run ⊕ an indexed ANN semantic run (method from
        // the ANN dir's own layout — lsh | ivf | ivfpq), 2k pools,
        // RRF-fused; `lambda` MMR-re-ranks using vectors fetched from
        // the ANN index itself (float layouts, or a keepVectors ivfpq
        // index's vectors_f32 sidecar; a codes-only ivfpq index carries
        // no vectors for the penalty cosines and rejects loudly). The
        // piped dataset is never scanned: a catalog service serves
        // hybrid retrieval at pure probe cost. One frozen query →
        // stream-fenced (serve-hybrid answers query streams).
        if (args.size < 6 || args.size > 7) throw new DflParseException(
          "hybridProbe takes (@, $bm25IndexDir, $annIndexDir, 'terms', $qvec, k[, lambda])")
        val hpBmDir = strArg(1)
        val hpAnnDir = strArg(2)
        val hpTerms = strArg(3).split("\\s+").toSeq.filter(_.nonEmpty)
        if (hpTerms.isEmpty)
          throw new DflParseException("hybridProbe: empty query terms")
        val hpQ = vecArg(4)
        val hpK = intArg(5)
        if (hpK <= 0)
          throw new DflParseException("hybridProbe: k must be positive")
        val hpLambda = if (args.size > 6) Some(numArg(6)) else None
        hpLambda.foreach(l => if (l < 0.0 || l > 1.0)
          throw new DflParseException(
            s"hybridProbe: lambda must be in [0,1], got $l"))
        val hpPool = 2 * hpK
        val hpSpark = df.sparkSession
        val hpLex = (try Retrieval.probe(Retrieval.Dir(hpSpark, hpBmDir),
            Retrieval.Probe(Retrieval.One(hpTerms), hpPool))
          catch {
            case e: Retrieval.Rejected => throw new DflParseException(
              s"hybridProbe: '$hpBmDir' is not a bm25 index (got ${e.kind})")
          }).select("id", "rnk")
        val hpAnnKind = graft.llm.Similarity.indexKind(hpSpark, hpAnnDir)
        if (hpAnnKind.forall(_ == "bm25")) throw new DflParseException(
          s"hybridProbe: '$hpAnnDir' is not an ANN index (got $hpAnnKind)")
        val hpFloats = Ann.storesFloats(hpAnnKind.get)
        // the MMR penalty cosines need floats: a keepVectors index
        // serves them from its vectors_f32 sidecar (the serve-hybrid
        // posture); a codes-only index rejects lambda loudly
        if (hpLambda.isDefined && !hpFloats &&
            !graft.llm.Pq.hasVectorSidecar(hpSpark, hpAnnDir))
          throw new DflParseException(
            "hybridProbe: lambda (MMR) needs float vectors; this " +
              "ivfpq index carries no vectors_f32 sidecar — build " +
              "it with keepVectors, or use a float layout (lsh | ivf)")
        val hpSemCos = annStage("hybridProbe", Ann.Dir(hpSpark, hpAnnDir),
          Ann.Probe(Ann.One(hpQ), Ann.TopK(hpPool)))
        // where an MMR vector fetch reads from: the index's own rows for
        // float layouts, the float sidecar for a keepVectors ivfpq index
        val hpVecDir =
          if (hpFloats) s"$hpAnnDir/vectors"
          else s"$hpAnnDir/${graft.llm.Pq.vectorSidecarDir}"
        // bounded-pool rank under a constant key — see the hybrid
        // stage's note
        val hpW = org.apache.spark.sql.expressions.Window
          .partitionBy(pmod(col("id"), lit(1)))
          .orderBy(col("cos").desc, col("id").asc)
        val hpSem = hpSemCos
          .withColumn("rnk", row_number().over(hpW).cast("long"))
          .select("id", "rnk")
        hpLambda match {
          case None => graft.llm.Retrieval.rrfFuse(Seq(hpLex, hpSem), hpK)
          case Some(l) =>
            // the fused pool is serving-sized BY CONSTRUCTION (≤ pool
            // rows), so it collects ONCE and its ids push into the
            // vectors read via Similarity.candidateVectors — the id-In
            // pruned fetch (a broadcast join alone would scan the whole
            // corpus-sized vectors/sidecar dir for ≤ pool rows)
            import hpSpark.implicits._
            val fusedRows = graft.llm.Retrieval
              .rrfFuse(Seq(hpLex, hpSem), hpPool)
              .select("id", "score").collect()
              .map(r => (r.getLong(0), r.getDouble(1))).toSeq
            val fusedDf = fusedRows.toDF("id", "score")
            val cands = graft.llm.Similarity
              .candidateVectors(hpSpark, hpVecDir, fusedRows.map(_._1))
              .join(broadcast(fusedDf), Seq("id"))
            graft.llm.Retrieval.mmrRerank(cands, "id", "score", "v", hpK, l)
        }

      case "wordpieceSegment" =>
        // `wordpieceSegment(@, '@id', '@text', $vocab[, unk])` — greedy
        // longest-match segmentation with a frozen WordPiece vocabulary
        // bound as a dataset var ((piece) rows, `##` continuations
        // included). Vocabulary-bounded collect at plan time (the
        // broadcast-a-model shape, like bpeSegment's merge table);
        // segmentation is one row-local native expression → STREAMABLE
        // frozen-tokenizer serving.
        if (args.size != 4 && args.size != 5) throw new DflParseException(
          s"wordpieceSegment takes (@, idExpr, textExpr, $$vocab[, unk])")
        val wpUnk = if (args.size > 4) strArg(4) else "[UNK]"
        val wpVocab = dsArg(3).select(col("piece").cast("string"))
          .collect().map(_.getString(0)).toSeq
        if (wpVocab.isEmpty)
          throw new DflParseException("wordpieceSegment: empty vocab table")
        val wpBase = df.withColumn("__gid", subCol(1))
          .withColumn("__gtext", subCol(2))
        graft.llm.WordPiece.segment(wpBase, "__gid", "__gtext", wpVocab, wpUnk)

      case "unigramSegment" =>
        // `unigramSegment(@, '@id', '@text', $vocab[, maxPieceLen])` —
        // Viterbi segmentation with a trained unigram-LM piece table
        // bound as a dataset var ((piece, logp) rows). Vocabulary-bounded
        // collect at plan time (the broadcast-a-model shape, like
        // bpeSegment's merge table); segmentation itself is one row-local
        // native expression → STREAMABLE frozen-tokenizer serving.
        if (args.size != 4 && args.size != 5) throw new DflParseException(
          s"unigramSegment takes (@, idExpr, textExpr, $$vocab[, maxPieceLen])")
        // bound precedence: explicit arg > the table's own
        // max_piece_len column (a tokenizer: artifact ref carries its
        // RECORDED serving bound this way — Exec.tokenizerRefVars) >
        // the default. A vocab trained with longer pieces served under
        // a shorter bound would silently never match them. ONE collect
        // fetches pieces and bound together (the per-request HTTP-exec
        // serving path must not pay a second driver job), and the
        // empty-table check runs before the bound is touched.
        val uTable = dsArg(3)
        val uHasBound = uTable.columns.contains("max_piece_len")
        val uRows = uTable
          .select(col("piece").cast("string"), col("logp").cast("double"),
            (if (uHasBound) col("max_piece_len") else lit(0))
              .cast("int").as("__mpl"))
          .collect()
        if (uRows.isEmpty)
          throw new DflParseException("unigramSegment: empty vocab table")
        val uMaxLen =
          if (args.size > 4) intArg(4)
          else if (uHasBound) uRows.head.getInt(2)
          else 8
        val uVocab = uRows
          .map(r => graft.llm.Unigram.Piece(r.getString(0), r.getDouble(1)))
          .toSeq
        val uBase = df.withColumn("__gid", subCol(1))
          .withColumn("__gtext", subCol(2))
        graft.llm.Unigram.segment(uBase, "__gid", "__gtext", uVocab, uMaxLen)

      case "tokSegment" =>
        // `tokSegment(@, '@id', '@text', 'artifact:URI'[, unk])` — ONE
        // serving stage for every stored tokenizer: loads the
        // [[graft.llm.TokenizerStore]] artifact and dispatches by its
        // RECORDED kind (bpe → char BPE, byte-bpe → byte BPE,
        // wordpiece → greedy longest-match, unigram → Viterbi with the
        // artifact's own max_piece_len — the recorded serving bound can
        // never be substituted by a default). The TokenizerCli.apply
        // dispatch, as a pipeline stage. `unk` applies to the wordpiece
        // kind only and is rejected elsewhere (silently-ignored config
        // is a mistake). Model loads are vocabulary-bounded at plan
        // time; segmentation is one row-local native expression →
        // STREAMABLE frozen-tokenizer serving.
        if (args.size != 4 && args.size != 5) throw new DflParseException(
          "tokSegment takes (@, idExpr, textExpr, 'artifact:URI'[, unk])")
        val tsUri = {
          val raw = strArg(3)
          if (raw.startsWith("artifact:")) raw.stripPrefix("artifact:") else raw
        }
        val tsSpark = df.sparkSession
        val tsKind =
          try graft.llm.TokenizerStore.kindOf(tsSpark, tsUri)
          catch { case e: Exception => throw new DflParseException(
            s"tokSegment: '$tsUri' is not a tokenizer artifact dir (${e.getMessage})") }
        if (args.size == 5 && tsKind != "wordpiece")
          throw new DflParseException(
            s"tokSegment: unk argument applies to 'wordpiece' artifacts, not '$tsKind'")
        val tsBase = df.withColumn("__gid", subCol(1))
          .withColumn("__gtext", subCol(2))
        tsKind match {
          case "bpe" => graft.llm.Bpe.segment(tsBase, "__gid", "__gtext",
            graft.llm.TokenizerStore.loadBpe(tsSpark, tsUri))
          case "byte-bpe" => graft.llm.Bpe.segmentByte(tsBase, "__gid",
            "__gtext", graft.llm.TokenizerStore.loadByteBpe(tsSpark, tsUri))
          case "wordpiece" =>
            val unk = if (args.size > 4) strArg(4) else "[UNK]"
            graft.llm.WordPiece.segment(tsBase, "__gid", "__gtext",
              graft.llm.TokenizerStore.loadWordPiece(tsSpark, tsUri), unk)
          case "unigram" => graft.llm.Unigram.segment(tsBase, "__gid",
            "__gtext", graft.llm.TokenizerStore.loadUnigram(tsSpark, tsUri),
            graft.llm.TokenizerStore.unigramMaxPieceLen(tsSpark, tsUri))
          case other => throw new DflParseException(
            s"tokSegment: unknown artifact kind '$other' at $tsUri")
        }

      case "classify" =>
        // `classify(@, '@id', '@vec', $weights, bias)` — linear-model
        // scoring (Classifier.lrScore): σ(w·x + b) per row with the
        // weight vector bound as a Seq[Double] exec variable or inline
        // array. A row-local codegen'd projection — streamable, so NOT
        // in StreamRunner.unstreamableFns (train offline with
        // Classifier.lrTrain, serve the model here).
        if (args.size != 5) throw new DflParseException(
          "classify takes (@, idExpr, vecExpr, $weights, bias)")
        val base = df.withColumn("__gid", subCol(1)).withColumn("__gvec", subCol(2))
        graft.llm.Classifier.lrScore(base, "__gid", "__gvec",
          graft.llm.Classifier.LrModel(vecArg(3).toArray, numArg(4)))

      case "decontam" | "decontamBloom" | "decontamScrub" | "contamHits" =>
        // `decontam(@, '@id', '@text', $bench[, n])` — eval-set n-gram
        // decontamination against a benchmark corpus bound as a dataset
        // var (seeded by the caller, or `$bench := (…)` earlier in the
        // pipeline). The id/text sub-expressions apply to the PIPED
        // corpus; the benchmark frame evaluates the same text expression
        // against its own columns. `decontam` returns the surviving
        // corpus rows; `contamHits` the (id, hits) contamination report.
        // Same 100 TB shape as the Scala API: benchmark grams broadcast,
        // corpus explode map-local, survivors one anti-join.
        val n = if (args.size > 4) intArg(4) else 8
        val base = df.withColumn("__gid", subCol(1)).withColumn("__gtext", subCol(2))
        val benchSrc = dsArg(3)
        val bench = benchSrc.withColumn("__gtext", ColumnCompiler.compile(
          sub(2), ColumnCompiler.Ctx.forDataFrame(benchSrc, vars)))
        if (name == "contamHits")
          graft.llm.TextAnalysis.contaminationHits(
              base, "__gid", "__gtext", bench, "__gtext", n)
            .select(col("__gid").as("id"), col("hits"))
        else if (name == "decontamBloom")
          // bloom-prefiltered variant: identical answers (exact verify
          // join), bench side scales past broadcast range
          graft.llm.TextAnalysis.decontaminateBloom(
              base, "__gid", "__gtext", bench, "__gtext", n)
            .drop("__gid", "__gtext")
        else if (name == "decontamScrub")
          // surgical variant: contaminated spans deleted, docs kept —
          // (id, clean_text, n_kept)
          graft.llm.TextAnalysis.scrubContamSpans(
              base, "__gid", "__gtext", bench, "__gtext", n)
            .withColumnRenamed("__gid", "id")
        else
          graft.llm.TextAnalysis.decontaminate(
              base, "__gid", "__gtext", bench, "__gtext", n)
            .drop("__gid", "__gtext")

      case "pack" =>
        // `pack(@, '@id', '@text', seqLen[, method[, buckets[, seed]]])` —
        // sequence-packing assignment table (id, bucket, n_tok, seq_ix/
        // pack_ix, offset). method: sequential (default, concat-then-
        // split) | greedy (boundary-respecting next-fit; seqLen acts as
        // the pack capacity). Per-bucket windows/scans — no global sort,
        // same 100 TB shape as the Scala API.
        val seqLen = intArg(3)
        val method = if (args.size > 4) strArg(4) else "sequential"
        val buckets = if (args.size > 5) intArg(5) else 32
        val seed = if (args.size > 6) numArg(6).toLong else 9L
        if (args.size > 7) throw new DflParseException(
          "pack takes at most (@, id, text, seqLen, method, buckets, seed)")
        val base = df.withColumn("__gid", subCol(1)).withColumn("__gtext", subCol(2))
        val out = method match {
          case "sequential" => graft.llm.Packing.packSequential(
            base, "__gid", "__gtext", seqLen, buckets, seed)
          case "greedy" => graft.llm.Packing.packGreedy(
            base, "__gid", "__gtext", seqLen, buckets, seed)
          case other => throw new DflParseException(s"unknown pack method $other")
        }
        out.withColumnRenamed("__gid", "id")

      case "lmScore" =>
        // `lmScore(@, '@id', '@text'[, method[, lambda]])` — per-doc
        // cross-entropy under an LM trained on the piped corpus itself:
        // method 'unigram' (default, TextAnalysis.lmUnigramScore → (id,
        // xent)), 'bigram' (interpolated, TextAnalysis.lmBigramScore →
        // (id, xent2), lambda = bigram weight, default 0.7), or 'kn'
        // (Kneser-Ney, TextAnalysis.lmKneserNeyScore → (id, xent_kn),
        // arg 4 = discount, default 0.75). A numeric arg 3 is still
        // rejected — method must be a string.
        if (args.size > 5) throw new DflParseException(
          "lmScore takes (@, id, text[, method[, lambda]])")
        val method = if (args.size > 3) strArg(3) else "unigram"
        val base = df.withColumn("__gid", subCol(1)).withColumn("__gtext", subCol(2))
        (method match {
          case "unigram" =>
            if (args.size > 4) throw new DflParseException(
              "lmScore: lambda applies to the bigram method only")
            graft.llm.TextAnalysis.lmUnigramScore(base, "__gid", "__gtext")
          case "bigram" =>
            val lambda = if (args.size > 4) numArg(4) else 0.7
            graft.llm.TextAnalysis.lmBigramScore(base, "__gid", "__gtext", lambda)
          case "kn" =>
            // Kneser-Ney bigram; arg 4 = absolute discount D
            val d = if (args.size > 4) numArg(4) else 0.75
            graft.llm.TextAnalysis.lmKneserNeyScore(base, "__gid", "__gtext", d)
          case "kn3" =>
            // trigram interpolated Kneser-Ney (the full backoff chain);
            // arg 4 = absolute discount D → (id, xent_kn3)
            val d3 = if (args.size > 4) numArg(4) else 0.75
            graft.llm.TextAnalysis.lmKneserNey3Score(base, "__gid", "__gtext", d3)
          case other => throw new DflParseException(s"unknown lmScore method $other")
        }).withColumnRenamed("__gid", "id")

      case "vocab" =>
        // `vocab(@, '@text'[, topV])` — corpus top-V vocabulary
        // (TextAnalysis.vocabulary): (w, cnt, rnk).
        if (args.size > 3) throw new DflParseException(
          "vocab takes (@, text[, topV])")
        val topV = if (args.size > 2) intArg(2) else 1000
        graft.llm.TextAnalysis.vocabulary(
          df.withColumn("__gtext", subCol(1)), "__gtext", topV)

      case "tfidf" =>
        // `tfidf(@, '@id', '@text'[, k])` — per-doc top-k TF-IDF terms
        // (TextAnalysis.tfidfTopTerms): (id, term, tf, score, rnk).
        if (args.size > 4) throw new DflParseException(
          "tfidf takes (@, id, text[, k])")
        val k = if (args.size > 3) intArg(3) else 5
        graft.llm.TextAnalysis.tfidfTopTerms(
            df.withColumn("__gid", subCol(1)).withColumn("__gtext", subCol(2)),
            "__gid", "__gtext", k)
          .withColumnRenamed("__gid", "id")

      case "windowDups" =>
        // `windowDups(@, '@id', '@text'[, w])` — corpus-wide repeated
        // w-token-window stats per doc (TextAnalysis.windowDupStats):
        // (id, n_win, n_dup, dup_frac).
        val w = if (args.size > 3) intArg(3) else 16
        if (args.size > 4) throw new DflParseException(
          "windowDups takes at most (@, id, text, w)")
        graft.llm.TextAnalysis.windowDupStats(
            df.withColumn("__gid", subCol(1)).withColumn("__gtext", subCol(2)),
            "__gid", "__gtext", w)
          .withColumnRenamed("__gid", "id")

      case "dedupSpans" =>
        // `dedupSpans(@, '@id', '@text'[, w])` — duplicated-span REMOVAL
        // (TextAnalysis.removeDupSpans): (id, clean_text, n_kept); every
        // input row survives, repeated w-token windows scrubbed.
        val w = if (args.size > 3) intArg(3) else 16
        if (args.size > 4) throw new DflParseException(
          "dedupSpans takes at most (@, id, text, w)")
        graft.llm.TextAnalysis.removeDupSpans(
            df.withColumn("__gid", subCol(1)).withColumn("__gtext", subCol(2)),
            "__gid", "__gtext", w)
          .withColumnRenamed("__gid", "id")

      case "annRange" =>
        // `annRange(@, '@id', '@vec', $query, minCos[, method[, tuning]])`
        // — cosine RANGE search (every id at or above the threshold),
        // mirroring annTopK's method resolution. method: exact (default,
        // one map-only scoring scan, no ordering, no limit), ivf | lsh
        // (the same build-once/probe-many cached-index lifecycles as
        // annTopK — a corpus served for top-k and range shares ONE
        // build; precision exact via the verify filter, recall bounded
        // by probed lists / the Hamming ball). `tuning`: ivf → nprobe,
        // lsh → slackBits (the range probe's radius slack).
        val rq = vecArg(3)
        val minCos = numArg(4)
        val rMethod = if (args.size > 5) strArg(5) else "exact"
        val rBase = df.select(subCol(1).as("id"), subCol(2).as("v"))
        if (rMethod == "exact" && args.size > 6)
          throw new DflParseException("annRange 'exact' takes no tuning argument")
        if (args.size > 7)
          throw new DflParseException(
            "annRange takes at most (@, id, vec, query, minCos, method, tuning)")
        rMethod match {
          case "exact" =>
            graft.llm.Similarity.bruteForceRange(rBase, "id", "v", rq, minCos)
          case m if Ann.corpusMethods.contains(m) =>
            annStage("annRange", annCorpus(rBase, m, m),
              Ann.Probe(Ann.One(rq),
                Ann.Range(minCos), tuning = optIntArg(6)))
          case other => throw new DflParseException(s"unknown annRange method $other")
        }

      case "annTopK" =>
        // `annTopK(@, '@id', '@vec', $query, k[, method[, tuning]])` —
        // cosine top-k for one query vector ($query: a Seq[Double] exec
        // variable or an inline array). method: exact (default, one scan
        // + bounded top-k), ivf | lsh (build-once/probe-many cached index
        // lifecycles — repeated service execs over the same corpus probe
        // a partition-pruned index instead of rescanning; in-memory
        // corpora probe ad hoc). `tuning` is the method's query-time
        // knob: ivf → nprobe (probed lists; never forces a rebuild), lsh
        // → minCandidates (the radius-expansion floor).
        val q = vecArg(3)
        val k = intArg(4)
        val method = if (args.size > 5) strArg(5) else "exact"
        val base = df.select(subCol(1).as("id"), subCol(2).as("v"))
        // an arg the chosen method would IGNORE is a config mistake
        // (e.g. 'exact' with a stray nprobe, or ivf/lsh with args past the
        // tuning slot): reject loudly, never serve with silently-discarded
        // configuration
        if (method == "exact" && args.size > 6)
          throw new DflParseException("annTopK 'exact' takes no tuning argument")
        if (args.size > 7)
          throw new DflParseException(
            "annTopK takes at most (@, id, vec, query, k, method, tuning)")
        method match {
          case "exact" => graft.llm.Similarity.bruteForceTopK(base, "id", "v", q, k)
          case "pq" =>
            // compressed ad-hoc serving: seeded PQ codebooks trained on
            // a bounded sample per call (driver-side, deterministic),
            // ADC scoring over m-byte codes. tuning = codewords per
            // subspace (k). The persisted/pruned variant is an ivfpq
            // index probed through annProbe.
            val kw = if (args.size > 6) intArg(6) else 64
            val model = graft.llm.Pq.pqTrain(base, "id", "v", m = 8, k = kw)
            graft.llm.Pq.pqTopK(
              graft.llm.Pq.pqEncode(base, "id", "v", model), model, q, k)
          case m if Ann.corpusMethods.contains(m) =>
            annStage("annTopK", annCorpus(base, m, m),
              Ann.Probe(Ann.One(q), Ann.TopK(k),
                tuning = optIntArg(6)))
          case other => throw new DflParseException(s"unknown annTopK method $other")
        }

      case "annTopKFiltered" =>
        // `annTopKFiltered(@, '@id', '@vec', $query, k, 'pred'[, method[,
        // tuning]])` — FILTERED cosine top-k: `pred` is a DFL boolean
        // over the index row — `@id`, `@v`, plus any metadata columns it
        // names, which are exactly the columns that ride into the index
        // layout (the predicate's attribute set IS the metaCols list).
        // Indexed corpora serve via the widening pruned probes
        // (predicate in PushedFilters, nprobe/radius widen until k
        // eligible survive); in-memory corpora pre-filter and probe ad
        // hoc (equal or better recall, no cache key to collide).
        // method: ivf (default) | lsh | exact; tuning as in annTopK.
        if (args.size < 6 || args.size > 8) throw new DflParseException(
          "annTopKFiltered takes (@, id, vec, query, k, pred[, method[, tuning]])")
        val fq = vecArg(3)
        val fk = intArg(4)
        val predNode = sub(5)
        val fMethod = if (args.size > 6) strArg(6) else "ivf"
        val metaCols = attrNames(predNode).filterNot(Set("id", "v")).toSeq.sorted
        val fBase = df.select(subCol(1).as("id") +: subCol(2).as("v") +:
          metaCols.map(col): _*)
        // the predicate compiles UNBOUND (plain col(name), typed from the
        // base schema): the filtered probes apply it to the INDEX frame —
        // a different DataFrame with the same column names — where a
        // df-bound reference would fail to re-resolve
        val fSchema = fBase.schema
        val pred = ColumnCompiler.compile(predNode, ColumnCompiler.Ctx(
          resolveAttr = name => col(name),
          whole = () => struct(fBase.columns.map(col).toIndexedSeq: _*),
          vars = vars,
          attrType = name => fSchema.fields.find(_.name == name).map(_.dataType)))
        fMethod match {
          case "exact" =>
            graft.llm.Similarity.bruteForceTopK(
              fBase.filter(pred), "id", "v", fq, fk)
          case m if Ann.corpusMethods.contains(m) =>
            annStage("annTopKFiltered",
              annCorpus(fBase, m, s"$m-filtered|${metaCols.mkString(",")}",
                metaCols),
              Ann.Probe(Ann.One(fq), Ann.TopK(fk),
                Some(pred), optIntArg(7)))
          case other => throw new DflParseException(
            s"unknown annTopKFiltered method $other")
        }

      case "annRangeBatch" =>
        // `annRangeBatch(@, '@id', '@vec', $queries, minCos[, method[,
        // tuning]])` — batched RANGE serving at the product surface:
        // every (qid, id, cos) at or above the threshold, one corpus
        // pass (exact) or one pruned union read over all queries' probe
        // lists / Hamming balls (ivf | lsh, against the same cached
        // index as the other stages of that method). $queries as in
        // annTopKBatch; `tuning`: ivf → nprobe, lsh → slackBits.
        val rbQueries = queryBatchArg(3)
        val rbMinCos = numArg(4)
        val rbMethod = if (args.size > 5) strArg(5) else "exact"
        val rbBase = df.select(subCol(1).as("id"), subCol(2).as("v"))
        if (rbMethod == "exact" && args.size > 6)
          throw new DflParseException("annRangeBatch 'exact' takes no tuning argument")
        if (args.size > 7)
          throw new DflParseException(
            "annRangeBatch takes at most (@, id, vec, queries, minCos, method, tuning)")
        rbMethod match {
          case "exact" =>
            graft.llm.Similarity.bruteForceRangeBatch(rbBase, "id", "v",
              rbQueries, rbMinCos)
          case m if Ann.corpusMethods.contains(m) =>
            annStage("annRangeBatch", annCorpus(rbBase, m, m),
              Ann.Probe(Ann.Batch(rbQueries),
                Ann.Range(rbMinCos), tuning = optIntArg(6)))
          case other => throw new DflParseException(s"unknown annRangeBatch method $other")
        }

      case "annTopKBatch" =>
        // `annTopKBatch(@, '@id', '@vec', $queries, k[, method[, tuning]])`
        // — the batched serving shape at the product surface: one corpus
        // pass (exact) or one pruned union read over all queries' probe
        // lists/buckets (ivf | lsh, against the same cached index as the
        // single-query annTopK of that method), scored via the
        // plan-literal query matrix with internal chunking. $queries: a
        // Seq of [id, vector] pairs, the shape a JSON request variable
        // yields. `tuning` as in annTopK: ivf → nprobe, lsh →
        // minCandidates. Returns (qid, id, cos).
        val queries = queryBatchArg(3)
        val k = intArg(4)
        val method = if (args.size > 5) strArg(5) else "exact"
        val base = df.select(subCol(1).as("id"), subCol(2).as("v"))
        if (method == "exact" && args.size > 6)
          throw new DflParseException("annTopKBatch 'exact' takes no tuning argument")
        if (args.size > 7)
          throw new DflParseException(
            "annTopKBatch takes at most (@, id, vec, queries, k, method, tuning)")
        method match {
          case "exact" =>
            graft.llm.Similarity.bruteForceTopKBatch(base, "id", "v", queries, k)
          case m if Ann.corpusMethods.contains(m) =>
            annStage("annTopKBatch", annCorpus(base, m, m),
              Ann.Probe(Ann.Batch(queries),
                Ann.TopK(k), tuning = optIntArg(6)))
          case other => throw new DflParseException(s"unknown annTopKBatch method $other")
        }

      case other => throw new DflParseException(s"unknown dataset function $other")
    }
  }

  /** One Ann probe for a DFL stage: a probe the index cannot serve as
    * asked (refine on a float layout, a missing float sidecar) surfaces
    * as the stage's parse error. */
  private def annStage(stage: String, src: Ann.Source,
                       p: Ann.Probe): DataFrame =
    try Ann.probe(src, p)
    catch {
      case e: Ann.Rejected =>
        throw new DflParseException(s"$stage: ${e.getMessage}")
    }

  /** A DFL corpus stage's probe source: the cached index lifecycle for a
    * file-backed corpus past the [[dflIndexable]] size bound, else the
    * ad-hoc in-memory path (never a schema-keyed cache). */
  private def annCorpus(base: DataFrame, method: String, keyTag: String,
                        metaCols: Seq[String] = Nil): Ann.Source = {
    val b = Ann.Build(method, metaCols = metaCols)
    if (dflIndexable(base))
      Ann.Cached(base, "id", "v", dflCorpusKey(base, keyTag), b)
    else Ann.Adhoc(base, "id", "v", b)
  }

  /** The lexical twin of [[annCorpus]]: a DFL stage's (`__gid`,
    * `__gtext`[, metaCols]) corpus as a BM25 probe source — the cached
    * index lifecycle past the [[dflIndexable]] size bound, else the
    * direct scan. */
  private def lexCorpus(base: DataFrame, keyTag: String,
                        metaCols: Seq[String] = Nil): Retrieval.Source = {
    val lex = base.select(col("__gid") +: col("__gtext") +: metaCols.map(col): _*)
    if (dflIndexable(lex))
      Retrieval.Cached(lex, "__gid", "__gtext", dflCorpusKey(lex, keyTag),
        metaCols = metaCols)
    else Retrieval.Scan(lex, "__gid", "__gtext")
  }

  /** Stable index-cache key for a DFL-invoked ANN stage (DFL callers have
    * no caller-supplied key): hash the corpus DataFrame's CANONICALIZED
    * analyzed plan plus its input files and schema. The plan is what
    * distinguishes two services over the same files — an upstream
    * `filter(@, …)`, a different embedding column, a different id
    * expression all produce different plans, so they can never share (and
    * silently mis-serve) one index; canonicalization normalizes
    * expression ids so the SAME pipeline re-planned on a later exec still
    * hits its cache. Content changes under the same files are caught by
    * the cache's corpus-fingerprint fencing. Only called for
    * [[dflIndexable]] corpora: an in-memory corpus canonicalizes to its
    * schema (its ROWS are invisible to the plan string), so two distinct
    * in-memory corpora with equal schemas would collide on one key and
    * silently share an index — those run the ad-hoc index-less paths
    * instead. */
  /** Compile a DFL boolean over INDEX columns to an UNBOUND Column — the
    * predicate shape the filtered ANN probes take; also the `serve-ann`
    * CLI's `--filter` compiler. Attributes resolve as plain `col(name)`
    * against whatever frame the probe applies them to (`id` plus the
    * metadata columns the index build carried); `@` alone has no meaning
    * here. */
  def indexPredicate(src: String): Column =
    ColumnCompiler.compile(Parser.parse(src), ColumnCompiler.Ctx(
      resolveAttr = name => col(name),
      whole = () => throw new DflParseException(
        "'@' (the whole record) has no meaning in an index predicate"),
      vars = Map.empty))

  /** Attribute names a DFL expression references — `annTopKFiltered`
    * derives its index-metadata column set from its predicate's
    * references (a name the piped frame lacks fails the select loudly).
    * `@` itself (the whole record, Attr("")) contributes nothing. */
  private def attrNames(n: Node): Set[String] = n match {
    case Attr("")             => Set.empty
    case Attr(name)           => Set(name)
    case Prop(t, _, _)        => attrNames(t)
    case Index(t, i)          => attrNames(t) ++ attrNames(i)
    case ArrayLit(xs)         => xs.flatMap(attrNames).toSet
    case SetLit(xs)           => xs.flatMap(attrNames).toSet
    case DictLit(es)          => es.flatMap { case (k, v) =>
                                   attrNames(k) ++ attrNames(v) }.toSet
    case FunCall(_, as)       => as.flatMap(attrNames).toSet
    case Unary(_, x)          => attrNames(x)
    case Binary(_, l, r)      => attrNames(l) ++ attrNames(r)
    case Between(x, lo, hi, _) => attrNames(x) ++ attrNames(lo) ++ attrNames(hi)
    case Ternary(c, t, f)     => attrNames(c) ++ attrNames(t) ++ attrNames(f)
    case Elvis(l, r)          => attrNames(l) ++ attrNames(r)
    case Assign(_, v)         => attrNames(v)
    case AugAssign(t, _, v)   => attrNames(t) ++ attrNames(v)
    case Pipe(ss)             => ss.flatMap(attrNames).toSet
    case _                    => Set.empty
  }

  private def dflCorpusKey(base: DataFrame, method: String): String =
    s"dfl|$method|" + graft.util.Md5.hex(
      // render with UNLIMITED fields: the default LogicalPlan.toString
      // truncates expression lists past spark.sql.debug.maxToStringFields
      // ('... N more fields'), so two pipelines differing only inside a
      // truncated region (e.g. wide upstream projections) would collide
      // on one cache key and silently share an index
      base.queryExecution.analyzed.canonicalized
        .treeString(verbose = false, addSuffix = false,
          maxFields = Int.MaxValue, printOperatorId = false)
        +: base.schema.catalogString
        +: base.inputFiles.sorted.toSeq)

  /** A DFL ANN corpus is cache-indexable only when every plan leaf is a
    * file-backed scan: the plan string + file fingerprints then identify
    * the data. Any in-memory leaf (LocalRelation — e.g. a test corpus or
    * an inline literal dataset) makes the fingerprint blind to the rows,
    * so those corpora fall back to the ad-hoc index-less paths — correct
    * answers, no cross-corpus cache collisions, just no build reuse. */
  /** Route this stage's FILE-BACKED corpus through the cached index
    * lifecycle? Building an index is a SIDE EFFECT — a full build pass
    * plus a stamp dir under `graft.ivf.indexBase` that only IndexGc
    * reclaims — which a one-off pipeline should not pay, so the
    * lifecycle engages only once the corpus's input bytes reach
    * `graft.dfl.index.minBytes` (default 32 MiB: below that a direct
    * scan beats the build even across repeated service execs, whose
    * datastore DataFrame is memory-cached anyway). Set 0 to force
    * index-always, or a larger bound to defer it. Results are
    * value-identical on either path (the index contract); at corpus
    * scale the threshold is always crossed and repeated execs get the
    * partition-pruned probes. */
  private def dflIndexable(base: DataFrame): Boolean =
    graft.llm.Similarity.fileBackedCorpus(base) && {
      val min = base.sparkSession.conf
        .getOption("graft.dfl.index.minBytes").map(_.toLong)
        .getOrElse(32L * 1024 * 1024)
      min <= 0 || graft.llm.Similarity.corpusInputBytes(base) >= min
    }

  private def assembleDict(df: DataFrame, d: DictLit, vars: Map[String, Any]): DataFrame = {
    val aggs = scala.collection.mutable.ListBuffer.empty[Column]
    val outs = d.entries.map { case (k, v) =>
      val name = ColumnCompiler.keyName(k)
      v match {
        case Attr("") =>
          aggs += collect_list(struct(df.columns.map(col).toIndexedSeq: _*)).as(name)
          col(name)
        case FunCall("len", List(Attr(""))) =>
          aggs += count(lit(1)).as(name)
          col(name)
        case other =>
          ColumnCompiler.compile(other,
            ColumnCompiler.Ctx(
              resolveAttr = n2 => throw new DflParseException(s"@$n2 not valid here"),
              whole = () => throw new DflParseException("@ not valid here"),
              vars = vars)).as(name)
      }
    }
    df.agg(aggs.head, aggs.tail.toSeq: _*).select(outs: _*)
  }
}
