package graft.dfl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.BoundLit
import graft.geo.TileMath

import Node._

/** Compiles a DFL AST to a Catalyst `Column` expression.
  *
  * This is the single highest-leverage design decision of the engine
  * (SURVEY.md §4): DFL lowers to declarative Catalyst expressions — NOT a
  * per-row interpreter — so predicate pushdown, column pruning, constant
  * folding and whole-stage codegen all apply automatically. At 100 TB that
  * is the difference between a parquet scan with `PushedFilters` and a
  * full-table UDF evaluation.
  *
  * DFL is dynamically typed (reference: railgun is schema-less,
  * cli/process.go:904); Spark is not. Polymorphic operators (`+` is numeric
  * add, string concat, dict merge and set union in the reference —
  * examples/geonames.dfl:14, examples/hostosm.sh:20) are disambiguated by
  * operand node shape plus the DataFrame schema for top-level attributes.
  */
object ColumnCompiler {

  /** Row-level compile context.
    *
    * @param resolveAttr `@name` lookup at the current pipe stage
    * @param whole       `@` as a single value (struct of the full record)
    * @param vars        `$var` bindings, bound as literals at compile time
    *                    (mirrors node.Evaluate(vars,...), cli/process.go:918)
    * @param lets        `$name := expr` pipeline bindings (compiled columns)
    * @param attrType    best-effort static type of `@name` for operator
    *                    disambiguation (None when unknown)
    */
  final case class Ctx(
      resolveAttr: String => Column,
      whole: () => Column,
      vars: Map[String, Any] = Map.empty,
      lets: Map[String, Column] = Map.empty,
      attrType: String => Option[DataType] = _ => None,
  ) {
    def withLet(name: String, c: Column): Ctx = copy(lets = lets + (name -> c))
  }

  object Ctx {
    /** Context over a DataFrame's top-level columns. */
    def forDataFrame(df: DataFrame, vars: Map[String, Any] = Map.empty): Ctx = {
      val schema = df.schema
      Ctx(
        resolveAttr = name => df.col(name),
        whole = () => struct(df.columns.map(df.col).toIndexedSeq: _*),
        vars = vars,
        attrType = name => schema.fields.find(_.name == name).map(_.dataType),
      )
    }

    /** Context where `@` is a previously-computed column (later pipe stages). */
    def forValue(cur: Column, vars: Map[String, Any], lets: Map[String, Column]): Ctx =
      Ctx(
        resolveAttr = name => cur.getItem(name),
        whole = () => cur,
        vars = vars,
        lets = lets,
      )
  }

  def compile(n: Node, ctx: Ctx): Column = n match {
    case Lit(v: String)  => lit(v)
    case Lit(v: Long)    => lit(v)
    case Lit(v: Double)  => lit(v)
    case Lit(v: Boolean) => lit(v)
    case Lit(v)          => lit(v)
    case NullLit         => lit(null)

    case Attr("")   => ctx.whole()
    case Attr(name) => ctx.resolveAttr(name)

    case Var(name) =>
      ctx.lets.getOrElse(name,
        ctx.vars.get(name) match {
          case Some(v) => litAny(v)
          case None    => throw new DflParseException(s"unbound variable $$$name")
        })

    // `?.` and `.` are both null-safe in Spark's extraction semantics
    case Prop(t, name, _) => compile(t, ctx).getItem(name)

    // static index into a compile-time variable array resolves to a literal
    case Index(Var(name), Lit(i: Long)) if ctx.vars.get(name).exists(_.isInstanceOf[Seq[_]]) =>
      litAny(ctx.vars(name).asInstanceOf[Seq[Any]](i.toInt))
    case Index(t, i) => compile(t, ctx).getItem(staticIndex(i, ctx))

    case ArrayLit(items) => array(items.map(compile(_, ctx)): _*)
    case SetLit(items)   => array_distinct(array(items.map(compile(_, ctx)): _*))
    case DictLit(entries) =>
      struct(entries.map { case (k, v) => compile(v, ctx).as(keyName(k)) }: _*)

    case FunCall(name, args) => Functions.apply(name, args, ctx)

    case Unary("not", x) => !compile(x, ctx)
    case Unary("-", x)   => negate(compile(x, ctx))
    case Unary(op, _)    => throw new DflParseException(s"unknown unary operator $op")

    // null tests: `@x == null` means IS NULL, not SQL three-valued equality
    // (reference: examples/bars.dfl:8 `@properties?.name != null`)
    case Binary("==", l, NullLit) => compile(l, ctx).isNull
    case Binary("!=", l, NullLit) => compile(l, ctx).isNotNull
    case Binary("==", NullLit, r) => compile(r, ctx).isNull
    case Binary("!=", NullLit, r) => compile(r, ctx).isNotNull

    case Binary("==", l, r) => compile(l, ctx) === compile(r, ctx)
    case Binary("!=", l, r) => compile(l, ctx) =!= compile(r, ctx)
    case Binary("<", l, r)  => compile(l, ctx) < compile(r, ctx)
    case Binary("<=", l, r) => compile(l, ctx) <= compile(r, ctx)
    case Binary(">", l, r)  => compile(l, ctx) > compile(r, ctx)
    case Binary(">=", l, r) => compile(l, ctx) >= compile(r, ctx)
    case Binary("and", l, r) => compile(l, ctx) && compile(r, ctx)
    case Binary("or", l, r)  => compile(l, ctx) || compile(r, ctx)

    case Binary("in", l, r)  => membership(l, r, ctx, caseInsensitive = false)
    case Binary("iin", l, r) => membership(l, r, ctx, caseInsensitive = true)

    case Binary("like", l, r)  => compile(l, ctx).like(patternOf(r, ctx))
    case Binary("ilike", l, r) => compile(l, ctx).ilike(patternOf(r, ctx))

    case Binary("intersects", l, r) => arrays_overlap(compile(l, ctx), compile(r, ctx))

    case Binary("+", l, r) => plus(l, r, ctx)
    case Binary("-", l, r) => minus(l, r, ctx)
    case Binary("*", l, r) => compile(l, ctx) * compile(r, ctx)
    case Binary("/", l, r) => compile(l, ctx) / compile(r, ctx)
    case Binary("%", l, r) => compile(l, ctx) % compile(r, ctx)
    case Binary(op, _, _)  => throw new DflParseException(s"unknown binary operator $op")

    // inclusive on both ends; `within` is the bbox-containment variant with
    // identical numeric semantics (reference: pipeline/Pipeline.go:7)
    case Between(x, lo, hi, _) =>
      val c = compile(x, ctx)
      c >= compile(lo, ctx) && c <= compile(hi, ctx)

    case Ternary(c, t, f) =>
      when(compile(c, ctx), compile(t, ctx)).otherwise(compile(f, ctx))

    case Elvis(l, r) => coalesce(compile(l, ctx), compile(r, ctx))

    case AugAssign(target, op, value) => augAssign(target, op, value, ctx)

    case _: Assign | _: Pipe =>
      throw new DflParseException(s"node only valid as a pipeline stage: ${Node.render(n)}")
  }

  /** `@properties += {k: v, ...}` / `-= {a, b}` — returns the WHOLE context
    * with the target dict updated in place (reference: examples/geonames.dfl:31-35,
    * named/named.go:20). Lowered to Catalyst `UpdateFields` via
    * `Column.withField`/`dropFields` — no row-level interpretation. */
  private def augAssign(target: Node, op: String, value: Node, ctx: Ctx): Column =
    target match {
      case Attr(name) =>
        val whole = ctx.whole()
        (op, value) match {
          case ("+=", DictLit(entries)) =>
            // update the inner struct once, then ONE outer withField —
            // per-entry dotted-path withFields each re-extract and re-wrap
            // the nested struct, rendering O(fields^depth) expression text
            // (big enough to push generated code past the JVM 64 KB method
            // limit on real ingest pipelines)
            val updatedInner = entries.foldLeft(whole.getField(name)) {
              case (acc, (k, v)) => acc.withField(keyName(k), compile(v, ctx))
            }
            whole.withField(name, updatedInner)
          case ("-=", SetLit(items)) =>
            whole.withField(name,
              whole.getField(name).dropFields(items.map(keyName): _*))
          case _ =>
            throw new DflParseException(s"unsupported augmented assignment: $op ${Node.render(value)}")
        }
      case other =>
        throw new DflParseException(s"augmented assignment target must be @attr, got ${Node.render(other)}")
    }

  /** DFL `+`: dict merge, set/array union, string concat, or numeric add —
    * disambiguated by operand shape and schema (see object Scaladoc). */
  private def plus(l: Node, r: Node, ctx: Ctx): Column = (l, r) match {
    case (_, DictLit(entries)) => // dict merge: add/overwrite keys on a struct
      entries.foldLeft(compile(l, ctx)) { case (acc, (k, v)) =>
        acc.withField(keyName(k), compile(v, ctx))
      }
    case (_, _: SetLit) | (_: SetLit, _) => // set union
      array_distinct(array_union(asArray(l, ctx), asArray(r, ctx)))
    case _ if isStringish(l, ctx) || isStringish(r, ctx) =>
      concat(compile(l, ctx).cast(StringType), compile(r, ctx).cast(StringType))
    case _ => compile(l, ctx) + compile(r, ctx)
  }

  /** DFL `-`: dict key-removal, set difference, or numeric subtract
    * (reference: examples/geonames.dfl:19 `- {longitude, latitude}`,
    * examples/hostosm.sh:46 histogram stop-word removal). */
  private def minus(l: Node, r: Node, ctx: Ctx): Column = (l, r) match {
    case (_, SetLit(items)) if items.forall(_.isInstanceOf[Lit]) && isStructish(l, ctx) =>
      compile(l, ctx).dropFields(items.map(keyName): _*)
    // row-level histogram minus a stop-word set: drop those MAP KEYS
    // (reference: examples/hostosm.sh:46 `hist(split(...)) - $irrelevant`)
    case (FunCall("hist", _), _) =>
      map_filter(compile(l, ctx), (k, _) => !array_contains(asArray(r, ctx), k))
    case (_, _: SetLit) => array_except(asArray(l, ctx), asArray(r, ctx))
    // set/array difference with a variable or arrayish operand
    // (reference: examples/hostosm.sh:40 `set(split(...)) - $irrelevant`)
    case (_, Var(name)) if ctx.vars.get(name).exists(_.isInstanceOf[Seq[_]]) =>
      array_except(asArray(l, ctx), asArray(r, ctx))
    case _ if Functions.isArrayish(l, ctx) =>
      array_except(asArray(l, ctx), asArray(r, ctx))
    case _ => compile(l, ctx) - compile(r, ctx)
  }

  private def membership(l: Node, r: Node, ctx: Ctx, caseInsensitive: Boolean): Column = {
    val lc0 = compile(l, ctx)
    val lc = if (caseInsensitive) lower(lc0.cast(StringType)) else lc0
    def fold(s: String) = if (caseInsensitive) s.toLowerCase else s
    r match {
      case ArrayLit(items) if items.forall(_.isInstanceOf[Lit]) =>
        lc.isin(items.map { case Lit(v: String) => fold(v); case Lit(v) => v }: _*)
      case SetLit(items) if items.forall(_.isInstanceOf[Lit]) =>
        lc.isin(items.map { case Lit(v: String) => fold(v); case Lit(v) => v }: _*)
      case Var(name) if ctx.vars.get(name).exists(_.isInstanceOf[Seq[_]]) =>
        lc.isin(ctx.vars(name).asInstanceOf[Seq[Any]]
          .map { case s: String => fold(s); case v => v }.map(litAny): _*)
      case _ =>
        val rc = compile(r, ctx)
        val rcFolded = if (caseInsensitive) transform(rc, x => lower(x.cast(StringType))) else rc
        array_contains(rcFolded, lc)
    }
  }

  private def patternOf(r: Node, ctx: Ctx): String = r match {
    case Lit(s: String) => s
    case other => throw new DflParseException(
      s"like/ilike pattern must be a literal, got ${Node.render(other)}")
  }

  private def staticIndex(i: Node, ctx: Ctx): Any = i match {
    case Lit(v: Long) => v.toInt // 0-based, matching go slice indexing
    case other        => compile(other, ctx)
  }

  private[dfl] def keyName(k: Node): String = k match {
    case Lit(s: String) => s
    case other          => throw new DflParseException(s"dict/set key must be static: ${Node.render(other)}")
  }

  private def asArray(n: Node, ctx: Ctx): Column = compile(n, ctx)

  private def isStringish(n: Node, ctx: Ctx): Boolean = n match {
    case Lit(_: String)            => true
    case Attr(name)                => ctx.attrType(name).contains(StringType)
    case Binary("+", l, r)         => isStringish(l, ctx) || isStringish(r, ctx)
    case FunCall("lower" | "upper" | "trim" | "concat", _) => true
    case _                         => false
  }

  private def isStructish(n: Node, ctx: Ctx): Boolean = n match {
    case Attr("")       => true
    case _: DictLit     => true
    case Attr(name)     => ctx.attrType(name).exists(_.isInstanceOf[StructType])
    case Prop(_, _, _)  => true // nested dicts (e.g. @properties)
    case Binary("+" | "-", l, _) => isStructish(l, ctx)
    case _              => false
  }

  /** Bind a Scala value (a `$var`) as a literal Column. Scalars bind by
    * reference ([[graft.functions.BoundLit]]), so a request's values
    * never change the plan's generated code; literals written in DFL
    * source stay `lit`. */
  def litAny(v: Any): Column = v match {
    case null      => lit(null)
    case s: Seq[_] => array(s.map(litAny): _*)
    case m: Map[_, _] =>
      struct(m.toSeq.map { case (k, value) => litAny(value).as(k.toString) }: _*)
    case other => BoundLit(other)
  }
}

/** Scalar function registry — the analogue of the reference's
  * go-adaptive-functions registry (router/RailgunRouter.go:60-65), lowered
  * to built-in Catalyst functions (codegen'd) wherever one exists. */
object Functions {
  import ColumnCompiler.{compile, Ctx}

  /** UDF/extension registry (reference: cli/process.go:918 — the DFL
    * function map is extensible). Extensions lower straight to Catalyst
    * `Column`s, so a registered native expression (e.g. graft's
    * [[graft.functions.VectorDot]]) stays codegen'd inside the DFL plan.
    * Registration is global and idempotent; extensions shadow nothing —
    * built-in names win. */
  private val extensions =
    scala.collection.concurrent.TrieMap.empty[String, (String, List[Column] => Column)]

  def registerExtension(name: String, signature: String)
                       (impl: List[Column] => Column): Unit =
    extensions.put(name, (signature, impl))

  // vector math over embedding columns, backed by the native expression
  registerExtension("vecDot", "(a, b)") { as => graft.functions.VectorF.dot(as(0), as(1)) }
  registerExtension("vecNorm", "(a)") { as => graft.functions.VectorF.norm(as(0)) }
  registerExtension("vecCosine", "(a, b)") { as => graft.functions.VectorF.cosine(as(0), as(1)) }
  // training-data hygiene: redact emails / IPv4 / phones with typed
  // placeholders (llm.TextAnalysis.scrubPii — chained codegen regexes)
  registerExtension("scrubPii", "(s)") { as => graft.llm.TextAnalysis.scrubPii(as(0)) }
  // byte canonicalization (functions.UnicodeNorm): NFC normalization and
  // the accent-insensitive variant, as fixed-form entry points (DFL args
  // are columns, so the Normalizer form is baked per name)
  registerExtension("unicodeNorm", "(s)") { as =>
    graft.functions.UnicodeNormF.unicodeNorm(as(0)) }
  registerExtension("stripAccents", "(s)") { as =>
    graft.functions.UnicodeNormF.unicodeNorm(as(0), "NFC", stripAccents = true) }

  /** name → (arity description) for the introspection endpoint
    * (reference: /dfl/functions route, router/RailgunRouter.go:60-65). */
  def registry: Map[String, String] =
    extensions.map { case (n, (sig, _)) => n -> sig }.toMap ++ builtinRegistry

  private val builtinRegistry: Map[String, String] = Map(
    "filter" -> "(dataset, predicate)", "map" -> "(dataset, expr)",
    "limit" -> "(dataset, n)", "sort" -> "(dataset[, key, desc])",
    "group" -> "(dataset, keyExpr)", "hist" -> "(dataset, key[, key2])",
    "dedup" -> "(dataset, idExpr, textExpr)",
    "nearDedup" -> "(dataset, idExpr, textExpr[, threshold, method])",
    "nearDupPairs" -> "(dataset, idExpr, textExpr[, threshold, method])",
    "nearDupClusters" -> "(dataset, idExpr, textExpr[, threshold, method])",
    "nearDedupClusters" -> "(dataset, idExpr, textExpr[, threshold, method])",
    "annTopK" -> "(dataset, idExpr, vecExpr, $query, k[, method[, tuning]])",
    "annTopKBatch" -> "(dataset, idExpr, vecExpr, $queries, k[, method[, tuning]])",
    "decontam" -> "(dataset, idExpr, textExpr, $benchmark[, n])",
    "contamHits" -> "(dataset, idExpr, textExpr, $benchmark[, n])",
    "sample" -> "(dataset, idExpr, fraction[, seed])",
    "pack" -> "(dataset, idExpr, textExpr, seqLen[, method[, buckets[, seed]]])",
    "lmScore" -> "(dataset, idExpr, textExpr)",
    "windowDups" -> "(dataset, idExpr, textExpr[, w])",
    "annRange" -> "(dataset, idExpr, vecExpr, $query, minCos[, method[, tuning]])",
    "annRangeBatch" -> "(dataset, idExpr, vecExpr, $queries, minCos[, method[, tuning]])",
    "decontamBloom" -> "(dataset, idExpr, textExpr, $benchmark[, n])",
    "decontamScrub" -> "(dataset, idExpr, textExpr, $benchmark[, n])",
    "dedupSpans" -> "(dataset, idExpr, textExpr[, w])",
    "mix" -> "(dataset, idExpr, domainExpr[, alpha[, seed]])",
    "vocab" -> "(dataset, textExpr[, topV])",
    "tfidf" -> "(dataset, idExpr, textExpr[, k])",
    "sessionize" -> "(dataset, keyExpr, tsExpr[, gapUs])",
    "cap" -> "(dataset, idExpr, domainExpr, weightExpr, budget[, seed])",
    "asof" -> "(dataset, $right, keyExpr, tsExpr[, toleranceUs[, direction]])",
    "topk" -> "(dataset, keyExpr, valueExpr, k)",
    "rolling" -> "(dataset, keyExpr, tsExpr, valueExpr[, windowUs])",
    "tokenize" -> "(dataset, idExpr, textExpr[, topV])",
    "profile" -> "(dataset, col, ...)",
    "dedupAgainst" -> "(dataset, idExpr, textExpr, $ref[, threshold[, method]])",
    "dupPairsAgainst" -> "(dataset, idExpr, textExpr, $ref[, threshold[, method]])",
    "diff" -> "(dataset, idExpr, cmpExpr, $old)",
    "pool" -> "(dataset, groupExpr, vecExpr)",
    "freqItems" -> "(dataset, itemExpr[, capacity])",
    "join" -> "(dataset, $right, leftKeyExpr, rightKeyExpr[, type])",
    "scale" -> "(dataset, expr, method[, pLow, pHigh])",
    "shard" -> "(dataset, idExpr, weightExpr, shardWeight[, seed])",
    "set" -> "(x)", "array" -> "(x)", "len" -> "(x)", "bbox" -> "(coords)",
    "mean" -> "(xs)", "split" -> "(s, sep)", "lower" -> "(s)", "upper" -> "(s)",
    "trim" -> "(s)", "lookup" -> "(dict, key)", "coalesce" -> "(a, b, ...)",
    "int32" -> "(x)", "int64" -> "(x)", "float64" -> "(x)", "string" -> "(x)",
    "pow" -> "(a, b)", "mul" -> "(a, b)", "sub" -> "(a, b)", "add" -> "(a, b)",
    "div" -> "(a, b)", "abs" -> "(x)", "floor" -> "(x)", "ceil" -> "(x)",
    "round" -> "(x, d)", "concat" -> "(a, b, ...)",
    "tileX" -> "(lon, z)", "tileY" -> "(lat, z)",
    "tileToLongitude" -> "(x, z)", "tileToLatitude" -> "(y, z)", "flipY" -> "(y, z)",
    "intersects" -> "(a, b)", "jsonGet" -> "(s, key)",
    "deflateRatio" -> "(s)",
    "htmlText" -> "(s)",
    "scrubCc" -> "(s)",
    "canonUrl" -> "(s)",
  )

  def apply(name: String, args: List[Node], ctx: Ctx): Column = {
    def a(i: Int): Column = compile(args(i), ctx)
    name match {
      case "split" => args(1) match {
        // DFL split takes a LITERAL separator (reference: examples/osm.sh:74);
        // Spark's split takes a regex, so quote it. A dynamic separator
        // column goes through the SQL form with \Q…\E per-row quoting.
        case Lit(sep: String) => split(a(0), java.util.regex.Pattern.quote(sep))
        case _ => call_function("split", a(0),
          concat(lit("\\Q"), a(1).cast(StringType), lit("\\E")))
      }
      case "lower"    => lower(a(0))
      case "upper"    => upper(a(0))
      case "trim"     => trim(a(0))
      case "lookup"   => element_at(a(0), a(1))
      case "coalesce" => coalesce(args.indices.map(a): _*)
      case "int32"    => a(0).cast(IntegerType)
      case "int64"    => a(0).cast(LongType)
      case "float64"  => a(0).cast(DoubleType)
      case "string"   => a(0).cast(StringType)
      case "pow"      => pow(a(0), a(1))
      case "mul"      => a(0) * a(1)
      case "sub"      => a(0) - a(1)
      case "add"      => a(0) + a(1)
      case "div"      => a(0) / a(1)
      case "abs"      => abs(a(0))
      case "floor"    => floor(a(0))
      case "ceil"     => ceil(a(0))
      case "round"    => if (args.size > 1) round(a(0), staticInt(args(1))) else round(a(0))
      case "concat"   => concat(args.indices.map(i => a(i).cast(StringType)): _*)
      case "tileX"    => TileMath.tileX(a(0), a(1))
      case "tileY"    => TileMath.tileY(a(0), a(1))
      case "tileToLongitude" => TileMath.tileToLongitude(a(0), a(1))
      case "tileToLatitude"  => TileMath.tileToLatitude(a(0), a(1))
      case "flipY"    => TileMath.flipYCol(a(0), a(1))
      case "intersects" => arrays_overlap(a(0), a(1))
      // extension: the compression-ratio quality signal (row-local zlib)
      case "deflateRatio" => graft.functions.DeflateF.deflateRatio(a(0))
      // extension: HTML → text extraction (row-local regex chain)
      case "htmlText" => graft.llm.TextAnalysis.extractHtmlText(a(0))
      // extension: Luhn-validated card-number redaction (native — a
      // checksum is not expressible in the regex PII patterns)
      case "scrubCc" => graft.functions.ScrubCcF.scrubCc(a(0))
      // extension: canonical URL dedup key (native string surgery —
      // param sorting is not expressible in a regex chain)
      case "canonUrl" => graft.functions.UrlF.canonUrl(a(0))
      // extension: JSON field extraction for string-typed dynamic columns
      // (the reference's schema-less records keep ragged keys; our typed
      // analogue is a JSON string column, SURVEY.md §1.5)
      case "jsonGet" => args(1) match {
        case Lit(key: String) => get_json_object(a(0), "$." + key)
        case _ => call_function("get_json_object", a(0),
          concat(lit("$."), a(1).cast(StringType)))
      }
      // row-level shapes of the dataset functions:
      case "len" =>
        // string length for strings, element count for arrays
        // (reference: examples/geonames.dfl:4 len over a csv string field)
        args.head match {
          case n if isArrayish(n, ctx) => size(a(0))
          case _                       => length(a(0).cast(StringType))
        }
      case "set"   => array_distinct(a(0))
      case "array" => a(0) // sets are already ArrayType columns
      case "hist" =>
        // row-level histogram of an ARRAY value → map(element → count)
        // (reference: examples/hostosm.sh:46 `hist(split(@text, ' '))`
        // over a single API document; the dataset form never reaches here)
        val arr = a(0)
        map_from_entries(transform(array_distinct(arr), w =>
          struct(w, size(filter(arr, x => x === w)))))
      case "mean" =>
        val arr = a(0)
        aggregate(arr, lit(0.0), (acc, x) => acc + x.cast(DoubleType)) / size(arr)
      case "bbox" =>
        // [w, s, e, n] extent over an array of [lon, lat] pairs
        // (reference: examples/osm.sh:106)
        val arr = a(0)
        array(
          array_min(transform(arr, c => c.getItem(0))),
          array_min(transform(arr, c => c.getItem(1))),
          array_max(transform(arr, c => c.getItem(0))),
          array_max(transform(arr, c => c.getItem(1))))
      case other => extensions.get(other) match {
        case Some((_, impl)) => impl(args.indices.map(a).toList)
        case None            => throw new DflParseException(s"unknown function $other")
      }
    }
  }

  private def staticInt(n: Node): Int = n match {
    case Node.Lit(v: Long) => v.toInt
    case other             => throw new DflParseException(s"expected int literal: ${Node.render(other)}")
  }

  private[dfl] def isArrayish(n: Node, ctx: Ctx): Boolean = n match {
    case _: Node.ArrayLit | _: Node.SetLit => true
    case Node.FunCall("split" | "set" | "array", _) => true
    case Node.Attr(name) => ctx.attrType(name).exists(_.isInstanceOf[ArrayType])
    case _ => false
  }
}
