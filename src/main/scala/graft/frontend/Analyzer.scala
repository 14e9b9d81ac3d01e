package graft.frontend

import scala.collection.mutable
import Syntax._

/** Name resolution, scope navigation, type inference and validity
  * checking for the sqlpp dialect.
  *
  * Semantics follow the reference analyzer (reference analyze.ml:1-1050,
  * scope.ml:1-87): scopes carry an ordered field table with mutable
  * `isUsed` marks and recorded dependencies; navigating to an expression
  * inside an open subquery creates (or structurally reuses) a generated
  * `_N` field there; parameters collect types by unification; aggregate
  * validity is checked by a post-pass. The implementation is fresh
  * Scala — structural case-class equality replaces the reference's
  * hash-consed node identity.
  */
object Analyzer {

  // ---------------- fields & scopes ----------------

  final class Field(
      val name: String,
      var expr: Expr,
      var ty: Ty,
      val isGenerated: Boolean,
      var isUsed: Boolean,
      var dependencies: List[(Option[String], String)]) {
    def copyFresh: Field =
      new Field(name, expr, ty, isGenerated, isUsed, dependencies)
  }

  sealed trait ScopeElem
  /** A real sub-scope; `nullable` records LEFT JOIN right sides
    * (reference scope.ml:12, analyze.ml:801-805).
    */
  final case class SElem(scope: Scope, nullable: Boolean) extends ScopeElem
  /** A scope alias created by WITHSCOPE / fieldset args. */
  final case class AElem(path: List[String]) extends ScopeElem

  final class Scope(
      var scopes: List[(String, ScopeElem)],
      val fields: mutable.LinkedHashMap[String, Field],
      val isOpen: Boolean,
      var groupBy: Option[List[Expr]]) {

    /** Deep copy (reference scope.ml:66-87 `fresh`). */
    def copyFresh: Scope = {
      val fs = mutable.LinkedHashMap.empty[String, Field]
      fields.foreach { case (k, v) => fs.put(k, v.copyFresh) }
      new Scope(
        scopes.map {
          case (n, SElem(s, nl)) => (n, SElem(s.copyFresh, nl))
          case (n, a: AElem)     => (n, a)
        },
        fs, isOpen, groupBy)
    }
  }

  object Scope {
    def create(
        scopes: List[(String, ScopeElem)] = Nil,
        fields: Seq[Field] = Nil,
        isOpen: Boolean = false,
        groupBy: Option[List[Expr]] = None): Scope = {
      val fs = mutable.LinkedHashMap.empty[String, Field]
      fields.foreach(f => fs.put(f.name, f))
      new Scope(scopes, fs, isOpen, groupBy)
    }

    /** One lookup step (reference scope.ml:15-19). */
    sealed trait Step
    final case class StepScope(s: SElem) extends Step
    final case class StepAlias(path: List[String],
        rest: List[(String, ScopeElem)]) extends Step
    case object StepNone extends Step

    def lookupStep(n: String,
        scopes: List[(String, ScopeElem)]): Step = scopes match {
      case Nil => StepNone
      case (n2, v) :: rest if n2 == n => v match {
        case s: SElem     => StepScope(s)
        case AElem(path)  => StepAlias(path, rest)
      }
      case _ :: rest => lookupStep(n, rest)
    }

    /** Full lookup following aliases; returns the traversed real path
      * (reversed) and the scope (reference scope.ml:21-37).
      */
    def lookupNav(n: String, scopes: List[(String, ScopeElem)])
        : Option[(List[String], SElem)] = {
      def lookup(nav: List[String], n: String,
          scopes: List[(String, ScopeElem)]): Option[(List[String], SElem)] =
        scopes match {
          case Nil => None
          case (n2, v) :: rest if n2 == n => v match {
            case s: SElem    => Some((nav, s))
            case AElem(path) => traverse(nav, rest, path)
          }
          case _ :: rest => lookup(nav, n, rest)
        }
      def traverse(nav: List[String], scopes: List[(String, ScopeElem)],
          path: List[String]): Option[(List[String], SElem)] = path match {
        case Nil => fail("lookupNav: empty alias path")
        case p :: ps => lookup(p :: nav, p, scopes) match {
          case None => None
          case Some((nav2, s)) =>
            if (ps.isEmpty) Some((nav2, s))
            else traverse(nav2, s.scope.scopes, ps)
        }
      }
      lookup(Nil, n, scopes)
    }

    def lookup(n: String, scopes: List[(String, ScopeElem)]): Option[SElem] =
      lookupNav(n, scopes).map(_._2)

    def lookupMany(path: List[String],
        scopes: List[(String, ScopeElem)]): Option[SElem] = path match {
      case Nil => fail("lookupMany: empty path")
      case n :: ns => lookup(n, scopes).flatMap { s =>
        if (ns.isEmpty) Some(s) else lookupMany(ns, s.scope.scopes)
      }
    }

    /** Direct (non-alias) subscope by name (reference scope.ml:49-56). */
    def subscope(scope: Scope, name: String): Option[Scope] =
      scope.scopes.collectFirst {
        case (n, SElem(s, _)) if n == name => s
      }
  }

  // ---------------- params ----------------

  sealed trait Pty
  final case class PtyTy(ty: Ty) extends Pty
  final case class PtyVariant(cases: List[(String, List[Pty])]) extends Pty
  final case class PtyExpr(ty: Ty, scope: Scope) extends Pty
  case object PtyUnknown extends Pty

  /** Param type unification (reference analyze.ml:120-149). */
  def unifyPty(a: Pty, b: Pty): Pty = (a, b) match {
    case (x, PtyUnknown) => x
    case (PtyUnknown, x) => x
    case (PtyTy(x), PtyTy(y)) => PtyTy(tyGlb(y, x))
    case (PtyVariant(xs), PtyVariant(ys)) =>
      // merge case-wise; same tag unifies arg lists positionally
      val merged = ys.foldLeft(xs) { case (acc, (tag, tys)) =>
        acc.find(_._1 == tag) match {
          case None => acc :+ (tag -> tys)
          case Some((_, tys2)) =>
            if (tys.length != tys2.length) fail("param type mismatch")
            acc.map { case (t, l) =>
              if (t == tag) t -> l.zip(tys).map { case (x, y) => unifyPty(x, y) }
              else t -> l
            }
        }
      }
      PtyVariant(merged)
    case (PtyExpr(_, _), PtyExpr(_, _)) =>
      fail("param with the same name already defined")
    case _ => fail("param type mismatch")
  }

  final class Params {
    var params: Map[String, Pty] = Map.empty
    def find(name: String): Option[Pty] = params.get(name)
    def add(name: String, pty: Pty): Pty = {
      val merged = params.get(name) match {
        case None       => pty
        case Some(prev) => unifyPty(prev, pty)
      }
      params = params.updated(name, merged)
      merged
    }
    /** Stash for MATCH-branch scoping (reference analyze.ml:164-178). */
    def removeNames(names: List[String]): List[(String, Option[Pty])] =
      names.map { n =>
        val prev = params.get(n)
        params = params - n
        n -> prev
      }
    def addNames(stash: List[(String, Option[Pty])]): Unit =
      stash.foreach {
        case (n, Some(t)) => params = params.updated(n, t)
        case (_, None)    => ()
      }
  }

  // ---------------- env ----------------

  final case class QueryInfo(
      scope: Scope,
      innerScope: Scope,
      params: Map[String, Pty],
      row: List[(String, Ty)],
      query: Query)

  final case class FieldsetInfo(
      fsScopes: List[(String, ScopeElem)],
      fsFields: List[(Ty, String, Expr)])

  sealed trait EnvDecl
  final case class TEnv(scope: Scope, ddl: DeclTable) extends EnvDecl
  final case class QEnv(info: QueryInfo) extends EnvDecl
  final case class FEnv(info: FieldsetInfo) extends EnvDecl

  /** Declaration environment (reference sqlpp.ml:74-121, analyze.ml:28-33). */
  final class Env {
    val decls: mutable.LinkedHashMap[String, EnvDecl] =
      mutable.LinkedHashMap.empty

    /** Scopes of IN/EXISTS subselects, keyed by the elaborated Select
      * node's identity — the analyzer builds them transiently
      * (analyze.ml:430-445) but lowering needs them for emission and
      * scan pruning. Env-global sharing also mirrors the reference's
      * known quirk that Expr_in scopes are not fresh-copied on named
      * query inlining (reference README.md:261-263).
      */
    val subSelectScopes: java.util.IdentityHashMap[Select, Scope] =
      new java.util.IdentityHashMap

    def findTable(name: String): (Scope, DeclTable) = decls.get(name) match {
      case Some(TEnv(scope, ddl)) => (scope, ddl)
      case Some(_)                => fail(s"not a table: $name")
      case None                   => fail(s"no such table: $name")
    }

    def addDecl(decl: Decl): Unit = decl match {
      case t @ DeclTable(name, cols) =>
        if (decls.contains(name)) fail(s"name already defined: $name")
        val fields = cols.map(c =>
          new Field(c.name, EName(c.name), c.ty, isGenerated = false,
            isUsed = false, dependencies = Nil))
        decls.put(name, TEnv(Scope.create(fields = fields), t))
      case DeclQuery(name, query) =>
        if (decls.contains(name)) fail(s"name already defined: $name")
        decls.put(name, QEnv(analyzeQuery(this, query)))
      case DeclFieldset(name, fs) =>
        if (decls.contains(name)) fail(s"name already defined: $name")
        decls.put(name, FEnv(analyzeFieldset(this, fs)))
    }

    def addDecls(src: String): Env = {
      Parser.parseDecls(src).foreach(addDecl)
      this
    }
  }

  // ---------------- contexts ----------------

  final class QueryCtx(val params: Params, val env: Env)

  final class ExprCtx(
      val scope: Scope,
      val isUsed: Boolean,
      val queryCtx: QueryCtx) {
    var dependencies: List[(Option[String], String)] = Nil
    def addDependency(p: (Option[String], String)): Unit =
      if (!dependencies.contains(p)) dependencies = dependencies :+ p
  }

  // ---------------- field marking ----------------

  private def lookupFieldByExpr(scope: Scope, e: Expr): Option[Field] =
    scope.fields.values.find(f => f.expr == e)

  private[frontend] def resolveFieldDependency(scope: Scope,
      dep: (Option[String], String)): (Scope, Field) = {
    val (scopeName, name) = dep
    val scope2 = scopeName match {
      case None => scope
      case Some(sn) =>
        scope.scopes.collectFirst {
          case (n, SElem(s, _)) if n == sn => s
        }.getOrElse(fail(s"missing scope: $sn"))
    }
    scope2.fields.get(name) match {
      case Some(f) => (scope2, f)
      case None    => fail(s"no such field: $name")
    }
  }

  private[frontend] def markFieldUsedRec(scope: Scope, f: Field): Unit =
    if (!f.isUsed) {
      f.isUsed = true
      f.dependencies.foreach { p =>
        val (s2, f2) = resolveFieldDependency(scope, p)
        markFieldUsedRec(s2, f2)
      }
    }

  private def markFieldDependenciesUsed(ctx: ExprCtx, f: Field): Unit =
    f.dependencies.foreach { p =>
      val (s2, f2) = resolveFieldDependency(ctx.scope, p)
      ctx.addDependency(p)
      markFieldUsedRec(s2, f2)
    }

  private def markFieldUsed(ctx: ExprCtx, scope: Scope, n: Option[String],
      f: Field): Unit = {
    ctx.addDependency((n, f.name))
    if (ctx.isUsed) markFieldUsedRec(scope, f)
  }

  private def buildField(scope: Scope, name: String, expr: Expr, ty: Ty,
      isGenerated: Boolean, isUsed: Boolean,
      dependencies: List[(Option[String], String)]): Field = {
    val f = new Field(name, expr, ty, isGenerated, isUsed, dependencies)
    scope.fields.put(name, f)
    f
  }

  /** Result row: used, named fields of the projection in order
    * (reference analyze.ml:227-235).
    */
  def getRow(scope: Scope, proj: List[SelectField]): List[(String, Ty)] =
    proj.flatMap {
      case FieldE(nameOpt, _, isUsed) if isUsed =>
        val name = nameOpt.getOrElse(fail("getRow: unnamed field"))
        scope.fields.get(name) match {
          case Some(f) => Some(name -> f.ty)
          case None    => fail(s"getRow: no such field $name")
        }
      case _ => None
    }

  /** Emitted output columns of an elaborated select: used projection
    * fields in declared order, then generated-and-used scope fields
    * (reference printer.ml:180-194).
    */
  def emission(scope: Scope, proj: List[SelectField]): List[(String, Expr)] = {
    val explicit = proj.collect {
      case FieldE(Some(n), e, true) => (n, e)
    }
    val gen = scope.fields.values.collect {
      case f if f.isGenerated && f.isUsed => (f.name, f.expr)
    }.toList
    (explicit ++ gen).distinct
  }

  // ---------------- literal validation ----------------

  private val dateRe = "^\\d{4}-\\d{2}-\\d{2}$".r
  private val datetimeRe =
    "^\\d{4}-\\d{2}-\\d{2}T\\d{2}:\\d{2}:\\d{2}$".r
  def isValidDate(s: String): Boolean = dateRe.matches(s)
  def isValidDatetime(s: String): Boolean = datetimeRe.matches(s)

  // ---------------- expression inference ----------------

  def inferExpr(ctx: ExprCtx, expr: Expr): (Ty, Expr) = expr match {
    case ENav(name, inner) =>
      Scope.lookupStep(name, ctx.scope.scopes) match {
        case Scope.StepAlias(path, restScopes) =>
          // rewrite through the alias and re-infer with shadowed scopes
          // (reference analyze.ml:348-361)
          val rewritten = path.reverse.foldLeft(inner) { (e, n) => ENav(n, e) }
          val scope2 =
            new Scope(restScopes, ctx.scope.fields, ctx.scope.isOpen,
              ctx.scope.groupBy)
          val ctx2 = new ExprCtx(scope2, ctx.isUsed, ctx.queryCtx)
          val (ty, e2) = inferExpr(ctx2, rewritten)
          ctx2.dependencies.foreach(ctx.addDependency)
          (ty, e2)
        case Scope.StepScope(selem) =>
          def isNavChain(e: Expr): Boolean = e match {
            case ENav(_, e2) => isNavChain(e2)
            case EName(_)    => true
            case _           => false
          }
          if (!selem.scope.isOpen && !isNavChain(inner))
            fail(s"subquery `$name` doesn't allow to build new expressions inside")
          lookupFieldByExpr(selem.scope, inner) match {
            case Some(f) =>
              markFieldUsed(ctx, selem.scope, Some(name), f)
              val ty = nullableLub(selem.nullable, f.ty)
              (ty, ENav(name, EName(f.name)))
            case None =>
              val ctx2 = new ExprCtx(selem.scope, ctx.isUsed, ctx.queryCtx)
              val (ty, e2) = inferExpr(ctx2, inner)
              val f = lookupFieldByExpr(selem.scope, e2) match {
                case Some(f0) =>
                  markFieldUsed(ctx, selem.scope, Some(name), f0)
                  f0
                case None =>
                  val n2 = s"_${selem.scope.fields.size}"
                  val f0 = buildField(selem.scope, n2, e2, ty,
                    isGenerated = true, isUsed = ctx2.isUsed,
                    dependencies = ctx2.dependencies)
                  markFieldUsed(ctx, selem.scope, Some(name), f0)
                  f0
              }
              (nullableLub(selem.nullable, ty), ENav(name, EName(f.name)))
          }
        case Scope.StepNone =>
          val avail = ctx.scope.scopes.map(_._1).distinct.mkString(", ")
          fail(s"no such table/query `$name` (available $avail)")
      }

    case EName(name) =>
      ctx.scope.fields.get(name) match {
        case Some(f) =>
          // same-scope field use copies the expression
          // (reference analyze.ml:401-407)
          markFieldDependenciesUsed(ctx, f)
          (f.ty, f.expr)
        case None =>
          sealed trait Res
          final case class RField(n: String, s: SElem, f: Field) extends Res
          final case class RExpr(e: Expr) extends Res
          val candidates: List[Res] =
            ctx.scope.scopes.map(_._1).distinct.flatMap { n =>
              Scope.lookupNav(n, ctx.scope.scopes) match {
                case Some((Nil, s)) =>
                  s.scope.fields.get(name).map(f => RField(n, s, f))
                case Some((nav, _)) =>
                  val e = nav.foldLeft(EName(name): Expr) { (acc, nm) =>
                    ENav(nm, acc)
                  }
                  Some(RExpr(e))
                case None => None
              }
            }
          candidates match {
            case List(RExpr(e)) => inferExpr(ctx, e)
            case List(RField(n, s, f)) =>
              markFieldUsed(ctx, s.scope, Some(n), f)
              (nullableLub(s.nullable, f.ty), ENav(n, EName(name)))
            case Nil => fail(s"no such column: $name")
            case _   => fail(s"ambigious column: $name")
          }
      }

    case EApp(f, args) => inferExprApp(ctx, f, args)

    case EIn(es, select) =>
      val (scope2, select2) = inferSelect(ctx.queryCtx, select)
      ctx.queryCtx.env.subSelectScopes.put(select2, scope2)
      val row = getRow(scope2, select2.proj)
      if (es.length != row.length)
        fail(s"number of expressions (${es.length}) doesn't match number of columns (${row.length})")
      val es2 = es.zip(row).map { case (e, (_, ty)) =>
        // IN compares, it doesn't assign: a nullable probe against a
        // non-null subquery column is fine (the comparison is just
        // NULL there) — check against the nullable widening
        checkExpr(ctx, ty.asNullable, e)._2
      }
      (nonNull(BOOL), EIn(es2, select2))

    case EExists(select) =>
      val (scope2, select2) = inferSelect(ctx.queryCtx, select)
      ctx.queryCtx.env.subSelectScopes.put(select2, scope2)
      (nonNull(BOOL), EExists(select2))

    case ELit(LitInt(_))    => (nonNull(INT), expr)
    case ELit(LitFloat(_))  => (nonNull(FLOAT), expr)
    case ELit(LitString(_)) => (nonNull(STRING), expr)
    case ELit(LitBool(_))   => (nonNull(BOOL), expr)
    case ENull => fail("missing type annotation for NULL value")

    case EParam(name) =>
      ctx.queryCtx.params.find(name) match {
        case Some(PtyTy(ty))      => (ty, expr)
        case Some(PtyExpr(ty, _)) => (ty, expr)
        case Some(PtyVariant(_)) =>
          fail(s"param ?$name is of a variant type, must be used with MATCH ... WITH construct")
        case Some(PtyUnknown) | None =>
          fail("missing type annotation for a param")
      }

    case EMatch(param, cases) =>
      handleParamMatch(ctx, inferExpr, param, cases)

    case EAscribe(e, TyVal(ty)) => checkExpr(ctx, ty, e)
    case EAscribe(EParam(name), TyExpr(ty)) =>
      val pty = PtyExpr(ty, ctx.scope)
      ctx.queryCtx.params.add(name, pty) match {
        case PtyTy(t)      => (t, EParam(name))
        case PtyExpr(t, _) => (t, EParam(name))
        case _             => fail("unexpected param type")
      }
    case EAscribe(_, TyExpr(_)) => fail("expected a param")
  }

  def checkExpr(ctx: ExprCtx, ty: Ty, expr: Expr): (Ty, Expr) = expr match {
    case ENull =>
      if (!ty.nullable)
        fail(s"expected value of type ${ty.show} but got NULL")
      (ty, expr)
    case EParam(name) =>
      ctx.queryCtx.params.add(name, PtyTy(ty)) match {
        case PtyTy(t)      => (t, expr)
        case PtyExpr(t, _) => (t, expr)
        case _             => fail("unexpected param type")
      }
    case EMatch(param, cases) =>
      val (t, e) = handleParamMatch(ctx, checkExpr(_, ty, _), param, cases)
      (subsumes(t, ty), e)
    case _ =>
      val (t, e) = inferExpr(ctx, expr)
      (subsumes(t, ty), e)
  }

  private def handleParamMatch(ctx: ExprCtx,
      checkBody: (ExprCtx, Expr) => (Ty, Expr),
      param: String, cases: List[MatchCase]): (Ty, Expr) = {
    def one(check: (ExprCtx, Expr) => (Ty, Expr),
        c: MatchCase): (Ty, MatchCase) = {
      val prev = ctx.queryCtx.params.removeNames(c.args)
      val (ty, body) = check(ctx, c.body)
      val ptys = ctx.queryCtx.params.removeNames(c.args)
      ctx.queryCtx.params.addNames(prev)
      val argTys = ptys.map { case (_, o) => o.getOrElse(PtyUnknown) }
      ctx.queryCtx.params.add(param, PtyVariant(List(c.tag -> argTys)))
      (ty, MatchCase(c.tag, c.args, body))
    }
    cases match {
      case Nil => fail("missing MATCH ... WITH cases")
      case first :: rest =>
        val (ty0, c0) = one(checkBody, first)
        val (tyF, csR) = rest.foldLeft((ty0, List(c0))) {
          case ((ty, acc), c) =>
            val (ty2, c2) = one(checkExpr(_, ty.asNullable, _), c)
            (ty2, c2 :: acc)
        }
        (tyF, EMatch(param, csR.reverse))
    }
  }

  /** Binop typing where a param operand adopts the other side's type
    * (reference analyze.ml:529-544).
    */
  private def handleBinopPrim(ctx: ExprCtx,
      checkArg: (ExprCtx, Expr) => (Ty, Expr),
      args: List[Expr]): ((Ty, Expr), (Ty, Expr)) = args match {
    case List(x @ (EParam(_) | EMatch(_, _)), y) =>
      val (ty, y2) = checkArg(ctx, y)
      val x2 = checkExpr(ctx, ty.asNullable, x)
      (x2, (ty, y2))
    case List(x, y @ (EParam(_) | EMatch(_, _))) =>
      val (tx, x2) = checkArg(ctx, x)
      val y2 = checkExpr(ctx, tx.asNullable, y)
      ((tx, x2), y2)
    case List(x, y) =>
      val (tx, x2) = checkArg(ctx, x)
      val y2 = checkExpr(ctx, tx.asNullable, y)
      ((tx, x2), y2)
    case _ => fail("expects two arguments")
  }

  // shared with Lowering's grouped-subquery rewrite — one definition,
  // so a new aggregate can't silently diverge between the two layers
  private[frontend] val aggFuncs = Set("count", "sum", "max", "min", "argMax")

  /** The complete built-in function registry
    * (reference analyze.ml:546-621).
    */
  def inferExprApp(ctx: ExprCtx, name: String,
      args: List[Expr]): (Ty, Expr) = (name, args) match {
    case ("count", List(x)) =>
      val (_, x2) = inferExpr(ctx, x)
      (nonNull(INT), EApp(name, List(x2)))
    case ("max" | "min" | "sum", List(x)) =>
      val (ty, x2) = checkExpr(ctx, nullT(NUMERIC), x)
      (ty, EApp(name, List(x2)))
    case ("argMax", List(x, y)) =>
      // README-parity extension: the reference documents
      // `argMax(id, created_at)` (README.md:79) but never implements it
      // (no case in analyze.ml:546-621). Result: x's type; the ordering
      // key must be comparable (NUMERIC-checked like min/max).
      val (tx, x2) = inferExpr(ctx, x)
      val (_, y2) = checkExpr(ctx, nullT(NUMERIC), y)
      (tx, EApp(name, List(x2, y2)))
    case ("=" | "!=" | ">" | ">=" | "<" | "<=", as) =>
      val ((tx, x2), (ty, y2)) = handleBinopPrim(ctx, inferExpr, as)
      val t = tyLub(tx, ty)
      (Ty(BOOL, t.nullable), EApp(name, List(x2, y2)))
    case ("AND" | "OR", as) =>
      val ((_, x2), (_, y2)) = handleBinopPrim(ctx, inferExpr, as)
      (nonNull(BOOL), EApp(name, List(x2, y2)))
    case ("-", List(x)) =>
      val (ty, x2) = checkExpr(ctx, nullT(NUMERIC), x)
      (ty, EApp(name, List(x2)))
    case ("NOT", List(x)) =>
      val (_, x2) = inferExpr(ctx, x)
      (nonNull(BOOL), EApp(name, List(x2)))
    case ("+" | "-" | "*" | "/", as) =>
      val ((tx, x2), (ty, y2)) =
        handleBinopPrim(ctx, checkExpr(_, nullT(NUMERIC), _), as)
      (tyLub(tx, ty), EApp(name, List(x2, y2)))
    case ("nullif", List(_, _)) =>
      val ((tx, x2), (_, y2)) = handleBinopPrim(ctx, inferExpr, args)
      (tx.asNullable, EApp(name, List(x2, y2)))
    case ("coalesce", List(x)) =>
      val (ty, x2) = inferExpr(ctx, x)
      (ty, EApp(name, List(x2)))
    case ("coalesce", x :: xs) if xs.nonEmpty =>
      val (t0, x0) = inferExpr(ctx, x)
      val (tF, rev) = xs.foldLeft((t0, List(x0))) { case ((t, acc), e) =>
        val (t2, e2) = e match {
          case EParam(_) | EMatch(_, _) => checkExpr(ctx, t.asNullable, e)
          case _                        => inferExpr(ctx, e)
        }
        (tyGlb(t, t2), e2 :: acc)
      }
      (tF, EApp(name, rev.reverse))
    case ("IS NULL" | "IS NOT NULL", List(x)) =>
      val (_, x2) = inferExpr(ctx, x)
      (nonNull(BOOL), EApp(name, List(x2)))
    case ("now", Nil) => (nonNull(DATETIME), EApp(name, Nil))
    case ("toString", List(x)) =>
      val (ty, x2) = inferExpr(ctx, x)
      (nullableLub(ty.nullable, nonNull(STRING)), EApp(name, List(x2)))
    case ("datetime", List(x)) => x match {
      case ELit(LitString(d)) =>
        if (!isValidDatetime(d))
          fail(s"""invalid datetime "$d", expected "YYYY-MM-DDTHH:MM:SS"""")
        // keep the app node so lowering emits a typed timestamp literal
        // (the reference unwraps to a bare string because its backends
        // store datetimes as TEXT — analyze.ml:601-607)
        (nonNull(DATETIME), EApp(name, List(x)))
      case _ =>
        val (_, x2) = checkExpr(ctx, nullT(STRING), x)
        (nullT(DATETIME), EApp(name, List(x2)))
    }
    case ("date", List(x)) => x match {
      case ELit(LitString(d)) =>
        if (!isValidDate(d))
          fail(s"""invalid date "$d", expected "YYYY-MM-DD"""")
        (nonNull(DATE), EApp(name, List(x)))
      case _ =>
        val (_, x2) = checkExpr(ctx, nullT(STRING), x)
        (nullT(DATE), EApp(name, List(x2)))
    }
    case _ => fail(s"no such function $name")
  }

  // ---------------- select ----------------

  def inferSelect(ctx: QueryCtx, select: Select): (Scope, Select) = {
    val (scope0, from2) = select.from match {
      case None => (Scope.create(isOpen = select.isOpen), None)
      case Some(f) =>
        val (scopes, f2) = inferFrom(ctx, f)
        (Scope.create(scopes = scopes, isOpen = select.isOpen), Some(f2))
    }
    val where2 = select.where.map { e =>
      checkExpr(new ExprCtx(scope0, isUsed = true, ctx), nullT(BOOL), e)._2
    }
    val groupBy2 = select.groupBy.map(_.map { e =>
      inferExpr(new ExprCtx(scope0, isUsed = true, ctx), e)._2
    })
    scope0.groupBy = groupBy2
    val having2 = select.having.map { e =>
      checkExpr(new ExprCtx(scope0, isUsed = true, ctx), nullT(BOOL), e)._2
    }
    val orderBy2 = select.orderBy.map(_.map { case (e, dir) =>
      (inferExpr(new ExprCtx(scope0, isUsed = true, ctx), e)._2, dir)
    })
    val limit2 = select.limit.map { e =>
      checkExpr(new ExprCtx(scope0, isUsed = true, ctx), nonNull(INT), e)._2
    }
    val offset2 = select.offset.map { e =>
      checkExpr(new ExprCtx(scope0, isUsed = true, ctx), nonNull(INT), e)._2
    }
    val (proj2, scope2) = inferSelectFields(ctx, scope0, select.proj)
    // `:- STY` ascription: assert the elaborated select's scope/row
    // matches the declared shape — named scopes resolve through
    // WITHSCOPE aliases (lookupNav), declared fields must exist with
    // a subsuming type, lazy WITH fields count (they are scope
    // members whether or not the query fetches them). Analysis-time
    // only; lowering ignores it.
    select.ascription.foreach { sty =>
      try scopeSubsumes(scope2, styToScope(ctx.env, sty))
      catch {
        case SqlppError(m) => fail(s"ascription mismatch: $m")
      }
    }
    (scope2, Select(proj2, from2, where2, groupBy2, having2, orderBy2,
      limit2, offset2, select.isOpen, select.ascription))
  }

  /** Projection elaboration (reference analyze.ml:704-784). */
  def inferSelectFields(ctx: QueryCtx, scope: Scope,
      fields: List[SelectField]): (List[SelectField], Scope) = {
    var scopes = scope.scopes
    def currentScope(): Scope =
      new Scope(scopes, scope.fields, scope.isOpen, scope.groupBy)
    val out = fields.flatMap {
      case FieldFieldset(name, args, isUsed) =>
        val fs = ctx.env.decls.get(name) match {
          case Some(FEnv(info)) => info
          case Some(_)          => fail(s"not a fieldset: $name")
          case None             => fail(s"no such fieldset: $name")
        }
        if (fs.fsScopes.length != args.length)
          fail(s"fieldset ...$name expects ${fs.fsScopes.length} arguments but ${args.length} provided")
        val sc0 = currentScope()
        val newScopes = fs.fsScopes.zip(args).foldLeft(sc0.scopes) {
          case (acc, ((argName, elem), argPath)) =>
            val actual = Scope.lookupMany(argPath, sc0.scopes).getOrElse(
              fail(s"no such table/query `${argPath.mkString(".")}`"))
            val expected = elem match {
              case SElem(s, _) => s
              case _           => fail("fieldset arg is an alias")
            }
            scopeSubsumes(actual.scope, expected)
            (argName -> AElem(argPath)) :: acc
        }
        val sc = new Scope(newScopes, sc0.fields, sc0.isOpen, sc0.groupBy)
        fs.fsFields.map { case (_, fname, fexpr) =>
          val ectx = new ExprCtx(sc, isUsed, ctx)
          val (ty, e2) = inferExpr(ectx, fexpr)
          buildField(sc, fname, e2, ty, isGenerated = false, isUsed = isUsed,
            dependencies = ectx.dependencies)
          FieldE(Some(fname), e2, isUsed)
        }
      case FieldWithScope(path, name) =>
        val nextScopes = (name -> AElem(path)) :: scopes
        if (Scope.lookupNav(name, nextScopes).isEmpty)
          fail(s"no such table/query `${path.mkString(".")}`")
        scopes = nextScopes
        Nil
      case FieldE(nameOpt, expr, isUsed) =>
        val sc = currentScope()
        val name0 = nameOpt match {
          case Some(n) if sc.fields.contains(n) =>
            fail(s"column `$n` is already defined")
          case Some(n) => Some(n)
          case None    => fieldNameOf(expr)
        }
        val name = name0 match {
          case Some(n) if !sc.fields.contains(n) => n
          case _ => s"_${sc.fields.size}"
        }
        val ectx = new ExprCtx(sc, isUsed, ctx)
        val (ty, e2) = inferExpr(ectx, expr)
        buildField(sc, name, e2, ty, isGenerated = !isUsed, isUsed = isUsed,
          dependencies = ectx.dependencies)
        if (isUsed) List(FieldE(Some(name), e2, isUsed = true)) else Nil
    }
    (out, currentScope())
  }

  /** Structural scope subtyping for fieldset args
    * (reference analyze.ml:97-118).
    */
  def scopeSubsumes(scope: Scope, sup: Scope): Unit = {
    sup.scopes.foreach {
      case (name, SElem(supSub, _)) =>
        Scope.lookupNav(name, scope.scopes) match {
          case Some((_, s)) => scopeSubsumes(s.scope, supSub)
          case None         => fail(s"no such scope: $name")
        }
      case (_, AElem(_)) => fail("scope_subsumes: alias found")
    }
    sup.fields.foreach { case (name, f2) =>
      scope.fields.get(name) match {
        case Some(f) => subsumes(f.ty, f2.ty)
        case None    => fail(s"no such column: $name")
      }
    }
  }

  def inferFrom(ctx: QueryCtx,
      from: From): (List[(String, ScopeElem)], From) = from match {
    case FromSingle(one) =>
      val (scope, name, one2) = inferFromOne(ctx, one)
      (List(name -> SElem(scope, nullable = false)), FromSingle(one2))
    case FromJoin(left, right, kind, cond) =>
      val (bindings, left2) = inferFrom(ctx, left)
      val (rscope, rname, right2) = inferFromOne(ctx, right)
      val condScope = Scope.create(
        scopes = (rname -> SElem(rscope, nullable = false)) :: bindings)
      // An OPTIONAL join's ON condition type-checks normally but its
      // field uses are DEFERRED (isUsed = false): "is the right scope
      // used" must mean "used by anything other than this condition".
      // The recorded deps travel on the kind; lowering either drops
      // the join (right scope untouched anywhere) or replays the
      // marks so scan pruning keeps the join keys.
      val isOpt = kind match {
        case JoinLeftOpt(_) => true
        case _              => false
      }
      val condCtx = new ExprCtx(condScope, isUsed = !isOpt, ctx)
      val (_, cond2) = checkExpr(condCtx, nullT(BOOL), cond)
      val kind2 =
        if (isOpt) JoinLeftOpt(condCtx.dependencies) else kind
      val bindings2 = kind2 match {
        case JoinInner =>
          (rname -> SElem(rscope, nullable = false)) :: bindings
        case JoinLeft | JoinLeftOpt(_) =>
          (rname -> SElem(rscope, nullable = true)) :: bindings
      }
      (bindings2, FromJoin(left2, right2, kind2, cond2))
  }

  def inferFromOne(ctx: QueryCtx,
      one: FromOne): (Scope, String, FromOne) = one match {
    case FromTable(name, alias) =>
      val a = alias.getOrElse(name)
      ctx.env.decls.get(name) match {
        case Some(TEnv(scope, _)) =>
          // fresh copy so per-query used-marking doesn't leak into the
          // shared env prototype (the reference shares table scopes;
          // harmless there because it never prunes table columns, but
          // our lowering prunes the scan by isUsed)
          (scope.copyFresh, a, FromTable(name, alias))
        case Some(QEnv(info)) => info.query match {
          case QSelect(sel) =>
            // named query: inline a fresh-scoped subselect
            // (reference analyze.ml:814-816)
            (info.scope.copyFresh, a, FromSelect(sel, a))
          case _ => fail(s"cannot select from $name")
        }
        case Some(FEnv(_)) => fail(s"cannot select from fieldset: $name")
        case None          => fail(s"no such table $name")
      }
    case FromSelect(sel, alias) =>
      val (scope, sel2) = inferSelect(ctx, sel)
      (scope, alias, FromSelect(sel2, alias))
  }

  // ---------------- aggregate validity ----------------

  /** Post-analysis aggregate validity check
    * (reference analyze.ml:271-331 Check_agg).
    */
  object CheckAgg {
    def checkSelect(scope: Scope, select: Select): Unit = {
      select.from.foreach(checkFrom(scope, _))
      select.proj.foreach {
        case FieldE(_, e, _) => checkE(scope, e)
        case _               => ()
      }
      scope.fields.values.foreach(f => checkE(scope, f.expr))
      // Deliberate divergence: the reference folds WHERE with groupBy
      // active (syntax.ml:879, analyze.ml:292-295), which rejects any
      // grouped query filtering on non-grouped columns. WHERE is
      // pre-aggregation in SQL semantics, so we check it without the
      // grouping restriction (aggregates in WHERE still error).
      select.where.foreach(checkE(
        new Scope(scope.scopes, scope.fields, scope.isOpen, None), _))
      select.groupBy.foreach(_.foreach(checkE(scope, _)))
      select.having.foreach(checkE(scope, _))
      select.orderBy.foreach(_.foreach { case (e, _) => checkE(scope, e) })
      select.limit.foreach(checkE(scope, _))
      select.offset.foreach(checkE(scope, _))
    }

    def checkFrom(scope: Scope, from: From): Unit = from match {
      case FromSingle(one)            => checkFromOne(scope, one)
      case FromJoin(l, r, _, _) =>
        checkFrom(scope, l); checkFromOne(scope, r)
    }

    private def checkFromOne(scope: Scope, one: FromOne): Unit = one match {
      case FromSelect(sel, alias) =>
        val sub = Scope.subscope(scope, alias).getOrElse(
          fail(s"CheckAgg: no such scope $alias"))
        checkSelect(sub, sel)
      case FromTable(_, _) => ()
    }

    private def checkE(scope: Scope, expr: Expr): Unit = {
      // grouping-expression occurrences are exempt
      if (scope.groupBy.exists(_.contains(expr))) return
      expr match {
        case EApp(f, args) if aggFuncs.contains(f) =>
          scope.groupBy match {
            case None =>
              fail(s"aggregate function `$f(..)` is not allowed without GROUP BY")
            case Some(_) =>
              val inner =
                new Scope(scope.scopes, scope.fields, scope.isOpen, None)
              // fields already checked at this scope; only walk args
              args.foreach(checkEInner(inner, _))
          }
        case ENav(_, EName(_)) =>
          if (scope.groupBy.isDefined)
            fail(s"expression `${exprToString(expr)}` is not in GROUP BY clause and is not under aggregate function")
        case ENav(_, e) => checkE(scope, e)
        case EApp(_, args) => args.foreach(checkE(scope, _))
        case EIn(es, _) => es.foreach(checkE(scope, _))
        case EExists(_) => () // inner selects checked at their own level
        case EAscribe(e, _) => checkE(scope, e)
        case EMatch(_, cases) => cases.foreach(c => checkE(scope, c.body))
        case _ => ()
      }
    }

    /** Inside an aggregate: groupBy cleared, nested aggs error. */
    private def checkEInner(scope: Scope, expr: Expr): Unit = {
      if (scope.groupBy.exists(_.contains(expr))) return
      expr match {
        case EApp(f, _) if aggFuncs.contains(f) =>
          fail(s"aggregate function `$f(..)` is not allowed without GROUP BY")
        case ENav(_, EName(_)) => ()
        case ENav(_, e)        => checkEInner(scope, e)
        case EApp(_, args)     => args.foreach(checkEInner(scope, _))
        case EIn(es, _)        => es.foreach(checkEInner(scope, _))
        case EExists(_)        => ()
        case EAscribe(e, _)    => checkEInner(scope, e)
        case EMatch(_, cases)  => cases.foreach(c => checkEInner(scope, c.body))
        case _ => ()
      }
    }
  }

  // ---------------- DML ----------------

  def inferInsert(ctx: QueryCtx, insert: Insert): QueryInfo = {
    val (tableScope, ddl) = ctx.env.findTable(insert.table)
    def findField(col: String): Field =
      tableScope.fields.getOrElse(col,
        fail(s"no such column in table: $col"))
    def arityError(len: Int): Nothing =
      fail(s"number of columns (${insert.columns.length}) doesn't match number of expressions ($len)")

    val (from2, innerScope0) = insert.from match {
      case InsertValues(rows) =>
        val rows2 = rows.map { row =>
          if (row.length != insert.columns.length) arityError(row.length)
          insert.columns.zip(row).map { case (col, e) =>
            val f = findField(col)
            val ectx = new ExprCtx(Scope.create(), isUsed = true, ctx)
            val (ty, e2) = checkExpr(ectx, f.ty, e)
            subsumes(ty, f.ty)
            e2
          }
        }
        (InsertValues(rows2), Scope.create())
      case InsertSelect(sel) =>
        val (scope, sel2) = inferSelect(ctx, sel)
        // record for DML lowering (the insert's innerScope swaps its
        // scopes list for the RETURNING target-table scope)
        ctx.env.subSelectScopes.put(sel2, scope)
        CheckAgg.checkSelect(scope, sel2)
        val row = getRow(scope, sel2.proj)
        if (row.length != insert.columns.length) arityError(row.length)
        insert.columns.zip(row).foreach { case (col, (_, ty)) =>
          val f = findField(col)
          subsumes(ty, f.ty)
        }
        (InsertSelect(sel2), scope)
    }

    val missing = ddl.cols.filter { c =>
      !c.ty.nullable && !c.autoincrement && c.default.isEmpty &&
        !insert.columns.contains(c.name)
    }.map(_.name)
    if (missing.nonEmpty)
      fail(s"missing required columns: ${missing.mkString(", ")}")

    // ON CONFLICT UPDATE SET: expressions see the existing row
    // (table-qualified) plus `excluded.<col>` for the incoming row,
    // each typed as the table column. Unqualified table columns are
    // ambiguous here (both scopes carry them) and fail with the
    // dialect's uniform ambiguity error — qualification required, a
    // documented divergence from PostgreSQL's implicit binding
    val onConflict2 = insert.onConflict.map {
      case ConflictUpdate(set) =>
        val cscope = Scope.create(scopes = List(
          insert.table -> SElem(tableScope, nullable = false),
          "excluded" -> SElem(tableScope, nullable = false)))
        ConflictUpdate(set.map { case (name, e) =>
          val f = findField(name)
          val ectx = new ExprCtx(cscope, isUsed = true, ctx)
          val (ty, e2) = checkExpr(ectx, f.ty, e)
          subsumes(ty, f.ty)
          (name, e2)
        })
      case other => other
    }

    val innerScope = new Scope(
      List(insert.table -> SElem(tableScope, nullable = false)),
      innerScope0.fields, innerScope0.isOpen, innerScope0.groupBy)
    val (returning2, innerScope2) =
      inferSelectFields(ctx, innerScope, insert.returning)
    QueryInfo(
      scope = Scope.create(),
      innerScope = innerScope2,
      params = ctx.params.params,
      row = getRow(innerScope2, returning2),
      query = QInsert(Insert(insert.table, insert.columns, from2,
        onConflict2, returning2)))
  }

  def inferDelete(ctx: QueryCtx, delete: Delete): QueryInfo = {
    val tableScope = ctx.env.findTable(delete.table)._1
    val innerScope = Scope.create(
      scopes = List(delete.table -> SElem(tableScope, nullable = false)))
    val where2 = delete.where.map { e =>
      checkExpr(new ExprCtx(innerScope, isUsed = true, ctx), nullT(BOOL), e)._2
    }
    val (returning2, innerScope2) =
      inferSelectFields(ctx, innerScope, delete.returning)
    QueryInfo(
      scope = Scope.create(),
      innerScope = innerScope2,
      params = ctx.params.params,
      row = getRow(innerScope2, returning2),
      query = QDelete(Delete(delete.table, where2, returning2)))
  }

  def inferUpdate(ctx: QueryCtx, update: Update): QueryInfo = {
    val tableScope = ctx.env.findTable(update.table)._1
    val (fromScopes, from2) = update.from match {
      case None    => (Nil, None)
      case Some(f) =>
        val (scopes, f2) = inferFrom(ctx, f)
        (scopes, Some(f2))
    }
    val scopes = (update.table -> SElem(tableScope, nullable = false)) ::
      fromScopes
    val scope = Scope.create(scopes = scopes)
    val where2 = update.where.map { e =>
      checkExpr(new ExprCtx(scope, isUsed = true, ctx), nullT(BOOL), e)._2
    }
    val set2 = update.set.map { case (name, e) =>
      val f = tableScope.fields.getOrElse(name, fail(s"no such column: $name"))
      val ectx = new ExprCtx(scope, isUsed = true, ctx)
      val (ty, e2) = checkExpr(ectx, f.ty, e)
      subsumes(ty, f.ty)
      (name, e2)
    }
    val (returning2, scope2) = inferSelectFields(ctx, scope, update.returning)
    from2.foreach(CheckAgg.checkFrom(Scope.create(scopes = scopes), _))
    QueryInfo(
      scope = Scope.create(),
      innerScope = scope2,
      params = ctx.params.params,
      row = getRow(scope2, returning2),
      query = QUpdate(Update(update.table, set2, from2, where2, returning2)))
  }

  // ---------------- entry points ----------------

  def analyzeQuery(env: Env, query: Query): QueryInfo = {
    val ctx = new QueryCtx(new Params, env)
    query match {
      case QSelect(sel) =>
        val (scope, sel2) = inferSelect(ctx, sel)
        CheckAgg.checkSelect(scope, sel2)
        QueryInfo(scope, scope, ctx.params.params, getRow(scope, sel2.proj),
          QSelect(sel2))
      case QInsert(i) => inferInsert(ctx, i)
      case QUpdate(u) => inferUpdate(ctx, u)
      case QDelete(d) => inferDelete(ctx, d)
    }
  }

  def analyzeFieldset(env: Env, fs: Fieldset): FieldsetInfo = {
    val fsScopes = fs.args.foldLeft(List.empty[(String, ScopeElem)]) {
      case (acc, (name, sty)) =>
        (name -> SElem(styToScope(env, sty), nullable = false)) :: acc
    }
    val scope = Scope.create(scopes = fsScopes)
    val ctx = new QueryCtx(new Params, env)
    val fsFields = fs.exprs.map { case (name, e) =>
      val ectx = new ExprCtx(scope, isUsed = true, ctx)
      val (ty, _) = inferExpr(ectx, e)
      (ty, name, e)
    }
    FieldsetInfo(fsScopes, fsFields)
  }

  /** Scope-type to scope (reference analyze.ml:77-95). */
  def styToScope(env: Env, sty: Sty): Scope = sty match {
    case StyName(name) => env.findTable(name)._1
    case StyStruct(elems) =>
      val (scopes, fields) =
        elems.foldLeft((List.empty[(String, ScopeElem)], List.empty[Field])) {
          case ((ss, fs), (name, StyElemTy(ty))) =>
            val f = new Field(name, EName(name), ty, isGenerated = false,
              isUsed = false, dependencies = Nil)
            (ss, fs :+ f)
          case ((ss, fs), (name, StyElemScope(s))) =>
            ((name -> SElem(styToScope(env, s),
              nullable = false)) :: ss, fs)
        }
      Scope.create(scopes = scopes, fields = fields, isOpen = true)
  }

  def analyzeExpr(env: Env, scope: Scope, expr: Expr,
      ty: Option[Ty] = None): Expr = {
    val ctx = new QueryCtx(new Params, env)
    val ectx = new ExprCtx(scope, isUsed = true, ctx)
    ty match {
      case None    => inferExpr(ectx, expr)._2
      case Some(t) => checkExpr(ectx, t, expr)._2
    }
  }
}
