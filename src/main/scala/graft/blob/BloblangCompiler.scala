package graft.blob

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Bloblang → Catalyst translator: the statically-typed subset of the text
  * language compiles to native Column expressions (whole-stage codegen, no
  * UDF), with the interpreter (`Bloblang.procStage`) as the general
  * fallback. Same program text, two execution paths — equivalence is
  * pinned by BloblangCompilerSpec and by `q_bloblang`/`q_bloblang_compiled`
  * sharing one DuckDB oracle.
  *
  * Translatable subset (bail → None, caller falls back to the interpreter):
  *  - statements: `root.<path> = <expr>` — including NESTED paths
  *    (`root.a.b = …` builds a struct column `a` from all its leaf
  *    assignments, declaration-ordered, last-write-wins) — and `let`
  *    bindings (inlined);
  *  - exprs: literals, input-column paths (typed from the DataFrame
  *    schema; a path of ANY Spark type compiles as an opaque pass-through
  *    copy — `root.article = this.article` works for structs/arrays,
  *    though no operator or method may touch the opaque value),
  *    arithmetic/comparison/boolean operators, if/else chains (if WITHOUT
  *    else compiles too: the interpreter omits the field, the columnar
  *    shape is null — equivalent under JSON-path reads, which is the
  *    compare contract), match with literal or predicate cases (default
  *    optional, same omission-to-null mapping), `env()` resolved at
  *    compile time;
  *  - methods with exact Column twins: uppercase, lowercase, trim(),
  *    length, contains, has_prefix/has_suffix, split, join, replace_all,
  *    re_replace_all, re_match, slice (non-negative literal bounds),
  *    string() (long/bool only — double formatting differs), abs, floor,
  *    ceil, round (Spark round(): half away from zero, the reference's
  *    Go math.Round rule — methods_numbers.go:224; the interpreter
  *    matches), number() on
  *    numeric targets (identity) and on strings (cast to double; with a
  *    fallback arg the cast-null coalesces to it, mirroring the
  *    interpreter's parse-failure fallback).
  *
  * Round-5 widening: `map_each`/`filter` over TYPED array columns compile
  * to Catalyst `transform`/`filter` HOFs (lambda param or bare-query
  * context capture; struct elements field-access via the element schema —
  * the cities.blobl corpus shape), `sort()` on primitive arrays →
  * `array_sort`, `meta key = expr` writes compile to an update of the
  * MAP<STRING,STRING> meta column (last-write-wins, goString-exact value
  * types only), and `timestamp_unix()` → `unix_timestamp()`.
  *
  * Deliberate non-goals (always interpreted): error-flow (`catch`/`or`/
  * pipe — Catalyst nulls are not Bloblang errors), doc-structural ops
  * (root =, OBJECT map_each, apply), whole-metadata assignment
  * (`meta = …`). Documented deltas inside the
  * subset: `&&`/`||` compile but Catalyst three-valued logic treats a
  * NULL operand as NULL where the interpreter raises; `number()` on an
  * unparseable string with NO fallback yields null where the interpreter
  * raises, and always produces double where the interpreter keeps
  * integral strings as longs — callers needing those exact error/type
  * semantics keep the interpreter.
  */
object BloblangCompiler {
  import Bloblang._

  private sealed trait BT
  private case object TStrT extends BT
  private case object TLongT extends BT
  private case object TDoubleT extends BT
  private case object TBoolT extends BT
  // typed array: primitive elements compute (map_each/filter/sort/join…),
  // struct elements carry their schema so a lambda param can field-access
  private final case class TArrT(elem: BT) extends BT
  // struct value: field-accessible (lambda params over array<struct>),
  // otherwise assignment-only like TAnyT
  private final case class TStructT(st: StructType) extends BT
  // opaque pass-through: any other Spark type copied whole (maps,
  // timestamps, binary). Assignable, never operated on.
  private case object TAnyT extends BT
  private final case class Typed(col: Column, t: BT)

  private def isPrim(t: BT): Boolean =
    t == TStrT || t == TLongT || t == TDoubleT || t == TBoolT

  /** The Spark type a compiled value materializes as — needed to build
    * struct schemas for object literals (so downstream lambdas can
    * field-access what a map_each constructed). TAnyT has no single
    * type → bail.
    */
  private def dtOf(t: BT): DataType = t match {
    case TStrT => StringType
    case TLongT => LongType
    case TDoubleT => DoubleType
    case TBoolT => BooleanType
    case TStructT(st) => st
    case TArrT(e) => ArrayType(dtOf(e))
    case TAnyT => bail()
  }

  private final class Bail extends RuntimeException
  private def bail(): Nothing = throw new Bail

  /** Compile a program to (outputName, Column) pairs over `schema`, or
    * None when any statement falls outside the subset.
    */
  def tryCompile(
      program: String,
      schema: StructType,
      env: Map[String, String] = Map.empty,
      metaCol: String = "meta",
      thisCol: Option[String] = None): Option[Vector[(String, Column)]] =
    tryCompileFull(program, schema, env, metaCol, thisCol).map(_._1)

  /** As tryCompile, also reporting whether the program REPLACED the whole
    * document (`root = <expr>` — compiled to a single column named
    * "root"): stage() must then drop the input columns, mirroring the
    * interpreter's doc replacement.
    *
    * `thisCol` designates an input column as the document for top-level
    * `this` — the columnar stand-in for programs over non-object
    * documents (github_releases.blobl maps over a doc that IS an array);
    * without it, `this.x` reads input column x as before.
    */
  def tryCompileFull(
      program: String,
      schema: StructType,
      env: Map[String, String] = Map.empty,
      metaCol: String = "meta",
      thisCol: Option[String] = None): Option[(Vector[(String, Column)], Boolean)] = {
    try {
      val rootCtx: Option[Typed] = thisCol.map { n =>
        val f = schema.fields.find(_.name == n).getOrElse(bail())
        Typed(col(s"`$n`"), fieldType(f.dataType))
      }
      val stmts = Bloblang.parseStmts(program)
      var vars = Map.empty[String, Typed]
      val assigns = Vector.newBuilder[(Vector[String], Column)]
      val metas = Vector.newBuilder[(String, Column)]
      var wholeRoot: Option[Column] = None // last `root = <expr>` wins
      stmts.foreach {
        case LetStmt(name, e, _) =>
          vars = vars + (name -> cExpr(e, schema, vars, env, rootCtx))
        case Assign(path, e, _) if path.isEmpty =>
          wholeRoot = Some(cExpr(e, schema, vars, env, rootCtx).col)
        case Assign(path, e, _) if path.nonEmpty =>
          assigns += path -> cExpr(e, schema, vars, env, rootCtx).col
        // `meta key = <expr>`: an update of the MAP<STRING,STRING> meta
        // column (the Spark mapping of the reference's flat Part metadata,
        // MetaTurn.meta). Values stringify via goString — exact for
        // strings/longs/bools; doubles format differently → bail.
        // Whole-metadata assignment (`meta = …`) stays interpreted.
        case MetaStmt(Some(key), e, _) =>
          val v = cExpr(e, schema, vars, env, rootCtx)
          val s = v.t match {
            case TStrT => v.col
            case TLongT | TBoolT => v.col.cast(StringType)
            case _ => bail()
          }
          metas += key -> s
        case _ => bail()
      }
      val all = assigns.result()
      val metaWrites = metas.result()
      if (wholeRoot.isDefined && all.nonEmpty) bail() // doc-merge: interpreted
      // nested paths build struct columns: group leaf assignments under
      // their top-level name (first-assignment order), last write wins
      val order = all.map(_._1.head).distinct
      val rootCols = wholeRoot match {
        case Some(rc) => Vector("root" -> rc)
        case None => order.map { top =>
          top -> buildNode(all.collect { case (p, c) if p.head == top => (p.tail.toList, c) })
        }
      }
      val metaEntry: Option[(String, Column)] =
        if (metaWrites.isEmpty) None
        else {
          if (order.contains(metaCol)) bail() // root.meta collides
          val f = schema.fields.find(_.name == metaCol).getOrElse(bail())
          f.dataType match {
            case MapType(StringType, StringType, _) => ()
            case _ => bail()
          }
          // last write per key wins, first-write order kept; existing
          // entries under a written key are dropped BEFORE concat (the
          // default mapKeyDedupPolicy=EXCEPTION would throw at runtime)
          val keys = metaWrites.map(_._1).distinct
          val lastByKey = metaWrites.groupBy(_._1).map { case (k, vs) => k -> vs.last._2 }
          val emptyMap = map_from_arrays(
            lit(Array.empty[String]), lit(Array.empty[String]))
          val cleaned = map_filter(coalesce(col(metaCol), emptyMap),
            (k, _) => !k.isInCollection(keys))
          val entries = keys.flatMap(k => Seq(lit(k), lastByKey(k)))
          Some(metaCol -> map_concat(cleaned, map(entries: _*)))
        }
      val result = rootCols ++ metaEntry
      if (result.isEmpty) None else Some((result, wholeRoot.isDefined))
    } catch {
      case _: Bail => None
      case _: BloblangError => None
    }
  }

  /** df → df plus the program's root fields as native columns. ONE select
    * against the original frame — not a withColumn chain — so an assigned
    * name that collides with an input column replaces it in the output
    * while every OTHER compiled expression still reads the original input
    * (the interpreter's `this` is always the input doc, never the
    * partially-built root).
    */
  def stage(program: String, schema: StructType,
      env: Map[String, String] = Map.empty,
      metaCol: String = "meta",
      thisCol: Option[String] = None): Option[org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame] =
    tryCompileFull(program, schema, env, metaCol, thisCol).map { case (cols, wholeRoot) => df =>
      val assigned = cols.map(_._1).toSet
      // whole-document replacement keeps the new root and the message
      // metadata (written, or passed through as the interpreter does);
      // field assignment keeps every unassigned input
      val kept = df.schema.fieldNames
        .filter(n => !assigned(n) && (!wholeRoot || n == metaCol))
      df.select(kept.map(col(_)) ++ cols.map { case (n, c) => c.as(n) }: _*)
    }

  /** One node of the nested-assignment tree: a leaf is the (last) column
    * assigned at this exact path; an interior node is a struct of its
    * children in first-assignment order. Mixing a value and children at
    * one path (`root.a = 1` + `root.a.b = 2`) bails — the interpreter
    * resolves that dynamically (gabs-style overwrite), a static struct
    * column cannot.
    */
  private def buildNode(items: Seq[(List[String], Column)]): Column = {
    val (leaves, nested) = items.partition(_._1.isEmpty)
    if (leaves.nonEmpty && nested.nonEmpty) bail()
    if (nested.isEmpty) leaves.last._2
    else {
      val order = nested.map(_._1.head).distinct
      struct(order.map { k =>
        buildNode(nested.collect { case (p, c) if p.head == k => (p.tail, c) }).as(k)
      }: _*)
    }
  }

  private def fieldType(dt: DataType): BT = dt match {
    case StringType => TStrT
    case LongType | IntegerType | ShortType | ByteType => TLongT
    case DoubleType | FloatType => TDoubleT
    case BooleanType => TBoolT
    case st: StructType => TStructT(st)
    case ArrayType(et, _) => fieldType(et) match {
      case TAnyT => TAnyT // arrays of opaque things stay opaque
      case e => TArrT(e)
    }
    case _ => TAnyT // opaque pass-through copy
  }

  private def pathOf(e: Expr): Option[Vector[String]] = e match {
    case NameRef(n) => Some(Vector(n))
    case FieldGet(t, n) => pathOf(t).map(_ :+ n)
    case ThisRef => Some(Vector.empty)
    case _ => None
  }

  private def thisRooted(e: Expr): Boolean = e match {
    case ThisRef => true
    case FieldGet(t, _) => thisRooted(t)
    case _ => false
  }

  /** Field access against a struct-typed value (lambda param / context). */
  private def fieldGet(t: Typed, name: String): Typed = t.t match {
    case TStructT(st) =>
      val f = st.fields.find(_.name == name).getOrElse(bail())
      Typed(t.col.getField(name), fieldType(f.dataType))
    case _ => bail()
  }

  /** `ctx` is the rebound `this` inside a per-element method argument
    * (map_each/filter lambda or bare query): paths resolve against the
    * ELEMENT, not the input schema — exactly the interpreter's context
    * capture (`applyElem`).
    */
  private def cExpr(
      e: Expr,
      schema: StructType,
      vars: Map[String, Typed],
      env: Map[String, String],
      ctx: Option[Typed] = None): Typed = {
    def c(x: Expr): Typed = cExpr(x, schema, vars, env, ctx)
    e match {
      case Lit(s: String) => Typed(lit(s), TStrT)
      case Lit(l: Long) => Typed(lit(l), TLongT)
      case Lit(d: Double) => Typed(lit(d), TDoubleT)
      case Lit(b: Boolean) => Typed(lit(b), TBoolT)
      // object literal → struct column, its field schema tracked so a
      // downstream lambda can field-access what a map_each constructed
      // (the github_releases.blobl shape)
      case ObjLit(fields) if fields.nonEmpty =>
        val compiled = fields.map { case (k, fe) => k -> c(fe) }
        val st = StructType(compiled.map { case (k, v) => StructField(k, dtOf(v.t)) })
        Typed(struct(compiled.map { case (k, v) => v.col.as(k) }: _*), TStructT(st))
      // array literal of same-typed items (numeric widening allowed) —
      // e.g. `["pikachu","mewtwo","magmar"].contains(this.fav)`
      case ArrLit(items) if items.nonEmpty =>
        val cs = items.map(c)
        val et = joinTypes(cs.map(_.t): _*)
        Typed(array(cs.map(_.col): _*), TArrT(et))
      case VarRef(n) => vars.getOrElse(n, bail())
      case NameRef(n) if vars.contains(n) => vars(n)
      case ThisRef => ctx.getOrElse(bail())
      case p @ (NameRef(_) | FieldGet(_, _)) =>
        val segs = pathOf(p).getOrElse(bail())
        if (segs.isEmpty) ctx.getOrElse(bail())
        // a bare path whose head is a bound name (lambda param) resolves
        // against that value — `loc.name` inside `map_each(loc -> …)`;
        // `this.x.y` must NOT (same segs, different root)
        else if (!thisRooted(p) && vars.contains(segs.head))
          segs.tail.foldLeft(vars(segs.head))(fieldGet)
        else if (ctx.isDefined)
          // inside a per-element argument, context paths read the ELEMENT
          segs.foldLeft(ctx.get)(fieldGet)
        else {
          // resolve the (possibly nested) field type from the schema
          var dt: DataType = StructType(schema.fields)
          segs.foreach { s =>
            dt match {
              case st: StructType =>
                val f = st.fields.find(_.name == s).getOrElse(bail())
                dt = f.dataType
              case _ => bail()
            }
          }
          // backtick each segment: names like `30d` would otherwise parse
          // as something else entirely (track_benthos_downloads.yaml shape)
          Typed(col(segs.map(s => s"`$s`").mkString(".")), fieldType(dt))
        }
      case FuncCall("env", Vector(Lit(name: String))) =>
        Typed(env.get(name).orElse(sys.env.get(name))
          .map(lit).getOrElse(lit(null).cast(StringType)), TStrT)
      case UnOp("!", x) =>
        val t = c(x); if (t.t != TBoolT) bail(); Typed(!t.col, TBoolT)
      case UnOp("-", x) =>
        val t = c(x)
        t.t match {
          case TLongT | TDoubleT => Typed(negate(t.col), t.t)
          case _ => bail()
        }
      case BinOp(op, le, re) => cBin(op, c(le), c(re))
      case IfExpr(branches, els) =>
        val cs = branches.map { case (cond, res) => (c(cond), c(res)) }
        if (cs.exists(_._1.t != TBoolT)) bail()
        // if WITHOUT else: the interpreter omits the field (Nothing); the
        // columnar mapping is null — equivalent under JSON-path reads
        val e0 = els.map(c)
        val rt = joinTypes((cs.map(_._2.t) ++ e0.map(_.t)): _*)
        val tail = e0.map(_.col).getOrElse(lit(null))
        val chain = cs.foldRight(tail) { case ((cond, res), acc) =>
          when(cond.col, res.col).otherwise(acc)
        }
        Typed(chain, rt)
      case MatchExpr(target, cases) if cases.nonEmpty =>
        val tcol = target.map(c)
        val hasDefault = cases.last._1.isEmpty
        // no default: unmatched = omission = null (same mapping as
        // if-without-else)
        val dflt = if (hasDefault) Some(c(cases.last._2)) else None
        val body = if (hasDefault) cases.init else cases
        if (body.exists(_._1.isEmpty)) bail() // `_` only as the final default
        val built = body.map {
          case (Some(condE), resE) =>
            val cond = (tcol, condE) match {
              // literal case against a target = equality
              case (Some(t), Lit(_)) =>
                val l = c(condE)
                if (l.t != t.t && !numPair(l.t, t.t)) bail()
                t.col === l.col
              // predicate case with no target = plain boolean expr
              case (None, _) =>
                val p = c(condE); if (p.t != TBoolT) bail(); p.col
              case _ => bail() // predicate-vs-target needs `this` rebinding
            }
            (cond, c(resE))
          case _ => bail()
        }
        val rt = joinTypes((built.map(_._2.t) ++ dflt.map(_.t)): _*)
        Typed(built.foldRight(dflt.map(_.col).getOrElse(lit(null))) {
          case ((cond, res), acc) => when(cond, res.col).otherwise(acc)
        }, rt)
      // per-element HOFs over typed arrays: Catalyst transform/filter are
      // exact twins of the interpreter's map_each/filter for the typed
      // subset (applyElem context capture → lambda variable rebinding).
      // The element compiles per invocation with `ctx`/the param bound to
      // the lambda variable; struct elements field-access via TStructT
      // (the cities.blobl corpus shape: locations.filter(loc ->
      // loc.state == "WA").map_each(loc -> loc.name)).
      case MethodCall(tE, mname @ ("map_each" | "filter"), Vector(lamE)) =>
        val t = c(tE)
        t.t match {
          case TArrT(elem) =>
            def compileBody(x: Column): Typed = {
              val xT = Typed(x, elem)
              lamE match {
                case Lambda(p2, b) =>
                  cExpr(b, schema, vars + (p2 -> xT), env, Some(xT))
                case q => cExpr(q, schema, vars, env, Some(xT))
              }
            }
            if (mname == "map_each") {
              var rt: BT = TAnyT
              val out = transform(t.col, x => {
                val b = compileBody(x); rt = b.t; b.col
              })
              if (rt == TAnyT) bail() // mapped elements must stay typed
              Typed(out, TArrT(rt))
            } else {
              val out = filter(t.col, x => {
                val b = compileBody(x)
                if (b.t != TBoolT) bail()
                b.col
              })
              Typed(out, t.t)
            }
          case _ => bail() // object map_each stays interpreted
        }
      case MethodCall(t, name, args) => cMethod(c(t), name, args.map(c), args)
      case _ => bail()
    }
  }

  private def numPair(a: BT, b: BT): Boolean =
    (a == TLongT || a == TDoubleT) && (b == TLongT || b == TDoubleT)

  private def joinTypes(ts: BT*): BT = {
    val d = ts.distinct
    if (d.isEmpty || d.contains(TAnyT)) bail()
    else if (d.length == 1) d.head
    else if (d.forall(t => t == TLongT || t == TDoubleT)) TDoubleT
    else bail()
  }

  private def cBin(op: String, l: Typed, r: Typed): Typed = op match {
    case "+" =>
      if (l.t == TStrT || r.t == TStrT) {
        // interpreter coerces via goString: exact for strings/longs/bools,
        // doubles format differently (6 vs 6.0) → bail
        def s(x: Typed): Column = x.t match {
          case TStrT => x.col
          case TLongT | TBoolT => x.col.cast(StringType)
          case _ => bail()
        }
        Typed(concat(s(l), s(r)), TStrT)
      } else if (numPair(l.t, r.t)) Typed(l.col + r.col, joinTypes(l.t, r.t))
      else bail()
    case "-" if numPair(l.t, r.t) => Typed(l.col - r.col, joinTypes(l.t, r.t))
    case "*" if numPair(l.t, r.t) => Typed(l.col * r.col, joinTypes(l.t, r.t))
    case "/" if numPair(l.t, r.t) =>
      Typed(l.col.cast(DoubleType) / r.col.cast(DoubleType), TDoubleT)
    case "%" if l.t == TLongT && r.t == TLongT => Typed(l.col % r.col, TLongT)
    case "==" => Typed(cmpSafe(l, r)(_ === _), TBoolT)
    case "!=" => Typed(cmpSafe(l, r)(_ =!= _), TBoolT)
    case "<" => Typed(cmpSafe(l, r)(_ < _), TBoolT)
    case ">" => Typed(cmpSafe(l, r)(_ > _), TBoolT)
    case "<=" => Typed(cmpSafe(l, r)(_ <= _), TBoolT)
    case ">=" => Typed(cmpSafe(l, r)(_ >= _), TBoolT)
    case "&&" if l.t == TBoolT && r.t == TBoolT => Typed(l.col && r.col, TBoolT)
    case "||" if l.t == TBoolT && r.t == TBoolT => Typed(l.col || r.col, TBoolT)
    case _ => bail() // `|` pipe is error-flow — interpreter only
  }

  private def cmpSafe(l: Typed, r: Typed)(f: (Column, Column) => Column): Column = {
    // non-primitive values (opaque/struct/array): assignment only — deep
    // equality semantics differ between engines, so bail
    if (!isPrim(l.t) || !isPrim(r.t)) bail()
    if (l.t != r.t && !numPair(l.t, r.t)) bail()
    f(l.col, r.col)
  }

  private def cMethod(t: Typed, name: String, args: Vector[Typed], raw: Vector[Expr]): Typed =
    (name, t.t) match {
      case ("uppercase", TStrT) => Typed(upper(t.col), TStrT)
      case ("lowercase", TStrT) => Typed(lower(t.col), TStrT)
      case ("trim", TStrT) if args.isEmpty => Typed(trim(t.col), TStrT)
      // trim(cutset): Go strings.Trim removes leading/trailing chars IN
      // THE SET — Spark's TRIM(BOTH trimStr FROM …) has the same
      // character-set semantics
      case ("trim", TStrT) =>
        raw(0) match {
          case Lit(cut: String) => Typed(trim(t.col, cut), TStrT)
          case _ => bail()
        }
      case ("length", TStrT) => Typed(length(t.col).cast(LongType), TLongT)
      case ("length", TArrT(_)) => Typed(size(t.col).cast(LongType), TLongT)
      case ("contains", TStrT) =>
        if (args.length != 1 || args(0).t != TStrT) bail()
        Typed(t.col.contains(args(0).col), TBoolT)
      case ("contains", TArrT(TStrT)) =>
        if (args.length != 1 || args(0).t != TStrT) bail()
        Typed(array_contains(t.col, args(0).col), TBoolT)
      case ("has_prefix", TStrT) =>
        // arg must be string-typed: a double arg would be implicitly cast by
        // Catalyst ("1.5E7") but goString-formatted by the interpreter
        // ("15000000") — same divergence `contains` guards against
        if (args.length != 1 || args(0).t != TStrT) bail()
        Typed(t.col.startsWith(args(0).col), TBoolT)
      case ("has_suffix", TStrT) =>
        if (args.length != 1 || args(0).t != TStrT) bail()
        Typed(t.col.endsWith(args(0).col), TBoolT)
      case ("split", TStrT) =>
        raw(0) match {
          // Go strings.Split keeps trailing empties → limit -1
          case Lit(sep: String) =>
            Typed(split(t.col, java.util.regex.Pattern.quote(sep), -1), TArrT(TStrT))
          case _ => bail()
        }
      // lexicographic / numeric ascending — Go sort.Slice on comparable
      // scalars; array_sort is the exact twin for non-null typed elements
      case ("sort", TArrT(e)) if args.isEmpty && isPrim(e) && e != TBoolT =>
        Typed(array_sort(t.col), t.t)
      // one level, exactly the interpreter's rule on array-of-array input
      case ("flatten", TArrT(TArrT(e))) if args.isEmpty =>
        Typed(flatten(t.col), TArrT(e))
      case ("join", TArrT(TStrT)) =>
        raw.headOption match {
          case Some(Lit(sep: String)) => Typed(array_join(t.col, sep), TStrT)
          case None => Typed(array_join(t.col, ""), TStrT)
          case _ => bail()
        }
      case ("replace_all", TStrT) =>
        (raw(0), raw(1)) match {
          case (Lit(a: String), Lit(b: String)) =>
            Typed(regexp_replace(t.col, java.util.regex.Pattern.quote(a),
              java.util.regex.Matcher.quoteReplacement(b)), TStrT)
          case _ => bail()
        }
      case ("re_replace_all", TStrT) =>
        (raw(0), raw(1)) match {
          // both paths are Java regex (the interpreter uses
          // Pattern/Matcher.replaceAll), so patterns and $N backrefs agree
          case (Lit(p: String), Lit(r: String)) =>
            Typed(regexp_replace(t.col, p, r), TStrT)
          case _ => bail()
        }
      case ("re_match", TStrT) =>
        raw(0) match {
          case Lit(p: String) => Typed(t.col.rlike(p), TBoolT)
          case _ => bail()
        }
      case ("slice", TStrT) =>
        (raw.lift(0), raw.lift(1)) match {
          case (Some(Lit(a: Long)), Some(Lit(b: Long))) if a >= 0 && b >= a =>
            Typed(substring(t.col, a.toInt + 1, (b - a).toInt), TStrT)
          case _ => bail()
        }
      case ("string", TLongT) => Typed(t.col.cast(StringType), TStrT)
      case ("string", TBoolT) => Typed(t.col.cast(StringType), TStrT)
      case ("string", TStrT) => t
      case ("abs", TLongT) => Typed(abs(t.col), TLongT)
      case ("abs", TDoubleT) => Typed(abs(t.col), TDoubleT)
      case ("floor", TDoubleT) => Typed(floor(t.col), TLongT)
      case ("floor", TLongT) => t
      case ("ceil", TDoubleT) => Typed(ceil(t.col), TLongT)
      case ("ceil", TLongT) => t
      // reference round() is Go math.Round — HALF AWAY FROM ZERO
      // (methods_numbers.go:224: "rounding half away from zero", so
      // round(-2.5) = -3). Spark round() has exactly those semantics;
      // the interpreter spells the same rule out (Bloblang "round").
      case ("round", TDoubleT) => Typed(round(t.col).cast(LongType), TLongT)
      case ("round", TLongT) => t
      // number(): identity on numerics; strings cast to double (the
      // interpreter keeps integral strings as longs and RAISES on parse
      // failure — documented deltas; a fallback arg coalesces the
      // cast-null exactly like the interpreter's parse-failure fallback)
      case ("number", TLongT | TDoubleT) => t
      case ("number", TStrT) =>
        val base = t.col.try_cast(DoubleType) // ANSI cast would throw
        args.headOption match {
          case None => Typed(base, TDoubleT)
          case Some(f) if f.t == TLongT || f.t == TDoubleT =>
            Typed(coalesce(base, f.col.cast(DoubleType)), TDoubleT)
          case _ => bail()
        }
      case _ => bail()
    }
}
