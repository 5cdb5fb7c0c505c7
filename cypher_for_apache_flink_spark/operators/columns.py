"""Compile IR expressions to PySpark Columns.

The PySpark analogue of the reference's expression mapper
(morpheus-spark-cypher/src/main/scala/org/opencypher/morpheus/impl/
SparkSQLExprMapper.scala:106-478).  Everything stays JVM-side: built-in
``pyspark.sql.functions`` only — no Python UDFs in the Cypher surface, so every
predicate/projection participates in whole-stage codegen and can be pushed
down by Catalyst.
"""

from __future__ import annotations

from functools import reduce

from pyspark.errors import AnalysisException
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..errors import PlanError
from ..ir import expr as E
from .header import Header, TypeOf


def quote(name: str) -> str:
    """``name`` as a SQL identifier: one name part, backticks doubled."""
    return "`" + name.replace("`", "``") + "`"


def col(name: str) -> Column:
    """``F.col(name)`` for a physical column name, parsed from SQL text.

    ``F.col`` and every ``Column`` method capture the Python call site
    while pyspark's ``spark.python.sql.dataFrameDebugging.enabled`` is on
    (the default), about 11 py4j round trips each; ``F.expr`` takes 3.
    Physical names are plain identifiers, so both build the same
    unresolved attribute."""
    return F.expr(quote(name))


class ExprContext:
    """Carries everything needed to compile an expression."""

    def __init__(self, header: Header, df, params: dict | None = None,
                 local_vars: dict | None = None, in_agg: bool = False,
                 local_types: dict | None = None):
        self.header = header
        self.df = df
        self.params = params or {}
        self.local_vars = local_vars or {}  # LocalVar name -> Column (lambda args)
        self.in_agg = in_agg  # aggregators compile to agg Columns in this scope
        # LocalVar name -> Spark dtype, so overload resolution (string +,
        # comparability) works inside higher-order lambdas
        self.local_types = local_types or {}

    def with_locals(self, **kv) -> "ExprContext":
        loc = dict(self.local_vars)
        loc.update(kv)
        return ExprContext(self.header, self.df, self.params, loc,
                           self.in_agg, self.local_types)

    def with_local_types(self, **kv) -> "ExprContext":
        lt = dict(self.local_types)
        lt.update({k: v for k, v in kv.items() if v is not None})
        return ExprContext(self.header, self.df, self.params,
                           self.local_vars, self.in_agg, lt)

    def with_agg(self, flag: bool = True) -> "ExprContext":
        return ExprContext(self.header, self.df, self.params, self.local_vars,
                           flag, self.local_types)

    def dtype(self, col_name: str):
        try:
            return self.df.schema[col_name].dataType
        except KeyError:
            return None


_NO_CONST = object()


def const_number(e, ctx):
    """plan_const extended over unary minus (a negative literal arrives
    as Neg(extracted positive literal))."""
    v = plan_const(e, ctx)
    if v is not _NO_CONST:
        return v
    if isinstance(e, E.Neg):
        v = plan_const(e.child, ctx)
        if isinstance(v, (int, float)) and not isinstance(v, bool):
            return -v
    return _NO_CONST


def plan_const(expr: E.Expr, ctx: "ExprContext"):
    """Plan-time-constant value of an expression: a literal, or a parameter
    whose value is bound in this plan (literal->parameter extraction makes
    these interchangeable).  Returns _NO_CONST when not constant."""
    if isinstance(expr, E.Lit):
        return expr.value
    if isinstance(expr, E.Param):
        try:
            return ctx.params[expr.name]
        except KeyError:
            return _NO_CONST
    return _NO_CONST


def to_column(expr: E.Expr, ctx: ExprContext) -> Column:
    """Main entry: IR expression -> pyspark Column."""
    # Header hit first: aliases and precomputed fields resolve to their column
    # (SparkSQLExprMapper.scala:96).
    c = ctx.header.get(expr)
    if c is not None:
        return col(c)
    return _compute(expr, ctx)


def spark_dtype(expr: E.Expr, ctx: ExprContext):
    """Best-effort Spark type of an expression (for overload resolution)."""
    c = ctx.header.get(expr)
    if c is not None:
        return ctx.dtype(c)
    if isinstance(expr, E.CountStar):
        return T.LongType()
    if isinstance(expr, E.LocalVar):
        return ctx.local_types.get(expr.name)
    if isinstance(expr, E.Param) and expr.name in ctx.params:
        # Bound parameters type like the literal they carry (literal ->
        # parameter extraction must not weaken overload/comparability
        # resolution).
        v = ctx.params[expr.name]
        if isinstance(v, dict):
            return T.StructType([T.StructField(k, T.NullType())
                                 for k in sorted(v)])
        if isinstance(v, bool):
            return T.BooleanType()
        if isinstance(v, int):
            return T.LongType()
        if isinstance(v, float):
            return T.DoubleType()
        if isinstance(v, str):
            return T.StringType()
        if v is None:
            return T.NullType()
        if isinstance(v, (list, tuple)):
            return T.ArrayType(T.NullType())
        return None
    if isinstance(expr, E.Lit):
        v = expr.value
        if isinstance(v, bool):
            return T.BooleanType()
        if isinstance(v, int):
            return T.LongType()
        if isinstance(v, float):
            return T.DoubleType()
        if isinstance(v, str):
            return T.StringType()
        if v is None:
            return T.NullType()
        return None
    if isinstance(expr, E.MapLit):
        return T.StructType([T.StructField(k, T.NullType())
                             for k, _ in sorted(expr.items)])
    if isinstance(expr, E.MapProjection):
        # mirror the compile: .* props first, explicit items override
        fields: dict = {}
        if expr.all_props:
            for e in ctx.header.exprs():
                if isinstance(e, E.Property) and e.owner == expr.var:
                    fields[e.key] = None
            fields = dict(sorted(fields.items()))
        for k, _ in expr.items:
            fields[k] = None
        return T.StructType([T.StructField(k, T.NullType())
                             for k in sorted(fields)])
    if isinstance(expr, E.ListLit):
        et = None
        for it in expr.items:
            et = spark_dtype(it, ctx)
            if et is not None and not isinstance(et, T.NullType):
                break
        return T.ArrayType(et or T.LongType())
    if isinstance(expr, E.Subscript):
        # chained subscripts ({a: {b: 7}}['a']['b']) need the owner
        # subscript's type so the inner lookup picks the struct branch.
        # plan_const, not E.Lit: literal->parameter extraction rewrites
        # the index to a bound $__lit parameter.
        k = plan_const(expr.index, ctx)
        key = k if isinstance(k, str) else None
        if isinstance(expr.owner, E.MapLit) and key is not None:
            for k, v in expr.owner.items:
                if k == key:
                    return spark_dtype(v, ctx)
            return T.NullType()
        ot = spark_dtype(expr.owner, ctx)
        if isinstance(ot, T.StructType):
            if key is not None and key in ot.fieldNames():
                return ot[key].dataType
            return T.NullType()
        if isinstance(ot, T.ArrayType):
            return ot.elementType
        if isinstance(ot, T.MapType):
            return ot.valueType
        return None
    if isinstance(expr, E.ListSlice):
        ot = spark_dtype(expr.owner, ctx)
        return ot if isinstance(ot, T.ArrayType) else T.ArrayType(T.LongType())
    if isinstance(expr, E.ListComprehension):
        st = spark_dtype(expr.list_expr, ctx)
        et = st.elementType if isinstance(st, T.ArrayType) else None
        if expr.projection is not None:
            pt = spark_dtype(expr.projection,
                             ctx.with_local_types(**{expr.var: et}))
            return T.ArrayType(pt if pt is not None else T.NullType())
        return T.ArrayType(et) if et is not None \
            else T.ArrayType(T.NullType())
    if isinstance(expr, E.CaseExpr):
        # type of the first branch that resolves (branches are coerced to a
        # common type at execution anyway)
        for _, then in expr.alternatives:
            t = spark_dtype(then, ctx)
            if t is not None and not isinstance(t, T.NullType):
                return t
        return spark_dtype(expr.default, ctx) \
            if expr.default is not None else None
    if isinstance(expr, E.FuncCall):
        n = expr.name
        if n in ("tostring", "toupper", "tolower", "trim", "ltrim", "rtrim",
                 "reverse", "replace", "substring", "left", "right"):
            return T.StringType()
        if n in ("tointeger", "size", "length", "id", "timestamp", "sign",
                 "count"):
            return T.LongType()
        if n in ("sum", "min", "max") and expr.args:
            return spark_dtype(expr.args[0], ctx)
        if n in ("tofloat", "sqrt", "exp", "log", "log10", "avg", "round",
                 "ceil", "floor"):
            return T.DoubleType()
        if n in ("split", "labels", "keys"):
            return T.ArrayType(T.StringType())
        if n == "range":
            return T.ArrayType(T.LongType())
        if n == "collect" and expr.args:
            et = spark_dtype(expr.args[0], ctx)
            return T.ArrayType(et) if et is not None else None
        if n == "tail" and expr.args:
            at = spark_dtype(expr.args[0], ctx)
            return at if isinstance(at, T.ArrayType) else None
        if n in ("date", "date.truncate"):
            return T.DateType()
        if n == "datetime" and _zoned_datetime_call(expr, ctx):
            return ZONED_DT_TYPE
        if n in ("datetime", "localdatetime", "datetime.truncate",
                 "localdatetime.truncate"):
            return T.TimestampType()
        if n in ("duration", "duration.between", "duration.indays",
                 "duration.inmonths", "duration.inseconds"):
            return DURATION_TYPE
        if n in ("time", "time.truncate"):
            return TIME_TYPE
        if n in ("localtime", "localtime.truncate"):
            return LOCALTIME_TYPE
        if n == "point":
            return POINT_TYPE
        if n in ("distance", "point.distance"):
            return T.DoubleType()
        return None
    if isinstance(expr, E.BinOp) and expr.op in ("+", "-", "*", "/", "%", "^"):
        lt = spark_dtype(expr.lhs, ctx)
        rt = spark_dtype(expr.rhs, ctx)
        # temporal ± duration keeps the temporal type
        if is_duration_type(lt) and _is(rt, (T.DateType, T.TimestampType)):
            return rt
        if is_duration_type(rt) and _is(lt, (T.DateType, T.TimestampType)):
            return lt
        # time/localtime ± duration stays a time of day
        if is_duration_type(rt) and (is_time_type(lt)
                                     or is_localtime_type(lt)):
            return lt
        if is_duration_type(lt) and (is_time_type(rt)
                                     or is_localtime_type(rt)):
            return rt
        if is_duration_type(lt) or is_duration_type(rt):
            # duration ± duration, duration * n, duration / n stay durations
            return lt if is_duration_type(lt) else rt
        for t in (lt, rt):
            if isinstance(t, (T.StringType, T.ArrayType, T.DoubleType)):
                return t
        return lt or rt
    if isinstance(expr, E.Neg):
        return spark_dtype(expr.child, ctx)
    if isinstance(expr, E.Property):
        # Unresolved property on a map/struct column.
        ot = spark_dtype(expr.owner, ctx)
        if isinstance(ot, T.StructType):
            try:
                return ot[expr.key].dataType
            except KeyError:
                return None
        if isinstance(expr.owner, E.Var):
            hv = ctx.header.var(expr.owner.name)
            if isinstance(hv, (E.NodeVar, E.RelVar)):
                # entity in scope but the property column is absent
                # (e.g. a nonexistent label folded to empty records):
                # the compiled column is lit(null)
                return T.NullType()
    return None


def _is(t, cls) -> bool:
    return isinstance(t, cls)


def _zoned_datetime_call(expr, ctx) -> bool:
    """True when a datetime() call produces a ZONED value: a map with a
    timezone component, or a constant string with a zone designator."""
    if not expr.args:
        return False
    a0 = expr.args[0]
    if isinstance(a0, E.MapLit):
        return any(k.lower() == "timezone" for k, _ in a0.items)
    v = plan_const(a0, ctx)
    if isinstance(v, str):
        from .temporal import parse_zoned_datetime_string
        try:
            return parse_zoned_datetime_string(v) is not None
        except Exception:
            return False
    return False


def _unify_list_items(cols, expr, ctx):
    """Mixed-type list literals encode as tagged-union Any structs
    (operators/anyvalue.py) instead of crashing in Spark's array() type
    coercion.  The cheap static class check gates the (plan-time-only)
    schema probe so homogeneous lists — the overwhelmingly common case —
    keep today's zero-cost path."""
    dts = [spark_dtype(i, ctx) for i in expr.items]
    classes = {_type_class(dt) for dt in dts} - {None}
    if not (len(classes) > 1 or classes == {"map"}) or ctx.df is None:
        return cols
    try:
        actual = [f.dataType for f in ctx.df.select(
            *[c.alias(f"__it{j}") for j, c in enumerate(cols)])
            .schema.fields]
    except AnalysisException:
        # Spark cannot analyze an item on its own; the native path
        # raises that item's typed error
        return cols
    from .anyvalue import _field_compatible, unify_any_columns
    if _field_compatible(actual):       # natively unionable after all
        return cols
    return unify_any_columns(cols, actual)


def _param_lit(v) -> Column:
    """Parameter value -> Column: dict params become struct literals (map
    access `$m.key` then compiles to getField), lists of dicts recurse."""
    if isinstance(v, dict):
        # sorted like MapLit: map equality is key-order-blind
        return F.struct(*[_param_lit(x).alias(k)
                          for k, x in sorted(v.items())])
    if isinstance(v, (list, tuple)) and any(isinstance(x, dict) for x in v):
        return F.array(*[_param_lit(x) for x in v])
    return F.lit(v)


_NUMERIC_TYPES = (T.ByteType, T.ShortType, T.IntegerType, T.LongType,
                  T.FloatType, T.DoubleType, T.DecimalType)


def _type_class(dt):
    """Coarse Cypher comparability class; None = unknown (assume comparable)."""
    if dt is None or isinstance(dt, T.NullType):
        return None
    if isinstance(dt, _NUMERIC_TYPES):
        return "num"
    if isinstance(dt, T.StringType):
        return "str"
    if isinstance(dt, T.BooleanType):
        return "bool"
    if isinstance(dt, (T.DateType, T.TimestampType, T.TimestampNTZType)):
        return "temporal"
    if is_duration_type(dt):
        return "duration"
    if is_time_type(dt):
        return "time"
    if is_localtime_type(dt):
        return "localtime"
    if is_zoned_dt_type(dt):
        return "zoneddt"
    if isinstance(dt, T.ArrayType):
        return "list"
    if isinstance(dt, (T.StructType, T.MapType)):
        return "map"
    return None


def _comparable(lt, rt) -> bool:
    a, b = _type_class(lt), _type_class(rt)
    return a is None or b is None or a == b


def _eq3(l: Column, r: Column, lt, rt) -> Column:
    """Cypher 3VL equality as a Column, recursive over list element types.

    openCypher list equality (TCK ListOperations): different lengths are
    decidedly FALSE even with nulls present; any decidedly-unequal element
    pair is FALSE; otherwise a null element makes the answer NULL; all
    pairs equal is TRUE.  Spark's own array equality treats nulls as equal
    (``array(1,null) = array(1,null)`` is true), so lists need an explicit
    zip_with fold.  Scalars keep Spark's comparison (already 3VL), with
    incomparable static type classes decided (1 = '1' is false, not null).
    """
    if not _comparable(lt, rt) or (
            _is(lt, T.StructType) and _is(rt, T.StructType)
            and not (is_duration_type(lt) and is_duration_type(rt))
            and lt.fieldNames() != rt.fieldNames()):
        # decidedly unequal type classes / key sets; null operands still null
        return F.when(l.isNull() | r.isNull(),
                      F.lit(None).cast("boolean")).otherwise(F.lit(False))
    if _is(lt, T.ArrayType) and _is(rt, T.ArrayType):
        et_l, et_r = lt.elementType, rt.elementType
        z = F.zip_with(l, r, lambda a, b: _eq3(a, b, et_l, et_r))
        return (F.when(l.isNull() | r.isNull(), F.lit(None).cast("boolean"))
                .when(F.size(l) != F.size(r), F.lit(False))
                .when(F.coalesce(F.array_contains(z, F.lit(False)),
                                 F.lit(False)), F.lit(False))
                .when(F.exists(z, lambda x: x.isNull()),
                      F.lit(None).cast("boolean"))
                .otherwise(F.lit(True)))
    return l == r


# ---------------------------------------------------------------------------
# Durations (SURVEY §7.1.7): a struct<months, days, microseconds> column with
# plain column arithmetic — replaces the reference's CalendarIntervalType +
# four UDAFs (TemporalUdfs.scala:93-160, TemporalUdafs.scala:39-107).
# ---------------------------------------------------------------------------

DURATION_FIELDS = ("months", "days", "microseconds")
DURATION_TYPE = T.StructType([T.StructField(f, T.LongType())
                              for f in DURATION_FIELDS])
_US_PER_SEC = 1_000_000
_US_PER_DAY = 86_400 * _US_PER_SEC
# Comparison estimate: one month = 30.436875 days (Julian year / 12), the
# same convention Cypher uses for duration ordering.
_US_PER_MONTH = 2_629_746 * _US_PER_SEC


def is_duration_type(t) -> bool:
    return isinstance(t, T.StructType) and \
        tuple(f.name for f in t.fields) == DURATION_FIELDS


def make_duration(months, days, micros) -> Column:
    return F.struct(months.cast("long").alias("months"),
                    days.cast("long").alias("days"),
                    micros.cast("long").alias("microseconds"))


# ---------------------------------------------------------------------------
# Spatial points (beyond-reference: the reference engine has no spatial
# surface at all).  A point is a struct<x,y,z,crs> column — z is null for
# 2-D points, crs distinguishes cartesian from geographic.  Geographic
# points store longitude in x and latitude in y (the Neo4j convention);
# distance() is pure column math: euclidean for cartesian, haversine on
# the WGS-84 semi-major axis (6378137 m) for geographic, with the height
# delta composed pythagorean for the -3d variants.
# ---------------------------------------------------------------------------

POINT_FIELDS = ("x", "y", "z", "crs")
POINT_TYPE = T.StructType([
    T.StructField("x", T.DoubleType()), T.StructField("y", T.DoubleType()),
    T.StructField("z", T.DoubleType()), T.StructField("crs", T.StringType())])
_CRS_SRID = {"cartesian": 7203, "cartesian-3d": 9157,
             "wgs-84": 4326, "wgs-84-3d": 4979}
_WGS84_RADIUS = 6378137.0


def is_point_type(t) -> bool:
    return isinstance(t, T.StructType) and \
        tuple(f.name for f in t.fields) == POINT_FIELDS


def make_point(x, y, z, crs: str) -> Column:
    zc = z.cast("double") if z is not None else F.lit(None).cast("double")
    return F.struct(x.cast("double").alias("x"), y.cast("double").alias("y"),
                    zc.alias("z"), F.lit(crs).alias("crs"))


def point_distance(pa: Column, pb: Column) -> Column:
    """distance(a, b): null on crs mismatch or null input."""
    dx = pa.getField("x") - pb.getField("x")
    dy = pa.getField("y") - pb.getField("y")
    dz = F.coalesce(pa.getField("z"), F.lit(0.0)) - \
        F.coalesce(pb.getField("z"), F.lit(0.0))
    cart = F.sqrt(dx * dx + dy * dy + dz * dz)
    lat1, lat2 = F.radians(pa.getField("y")), F.radians(pb.getField("y"))
    dphi = (lat2 - lat1) / 2
    dlam = (F.radians(pb.getField("x")) - F.radians(pa.getField("x"))) / 2
    h = (F.sin(dphi) * F.sin(dphi)
         + F.cos(lat1) * F.cos(lat2) * F.sin(dlam) * F.sin(dlam))
    hav = 2 * F.lit(_WGS84_RADIUS) * F.asin(F.sqrt(h))
    geo = F.sqrt(hav * hav + dz * dz)
    same = pa.getField("crs") == pb.getField("crs")
    return F.when(same, F.when(pa.getField("crs").startswith("wgs-84"),
                               geo).otherwise(cart)) \
        .otherwise(F.lit(None).cast("double"))


def duration_estimate_us(d: Column) -> Column:
    """Total-microsecond estimate used for MIN/MAX ordering."""
    return (d.getField("months") * F.lit(_US_PER_MONTH)
            + d.getField("days") * F.lit(_US_PER_DAY)
            + d.getField("microseconds"))


# ---------------------------------------------------------------------------
# Time / LocalTime (beyond-reference surface: the reference blacklists its
# whole temporal TCK corpus — morpheus-tck/src/test/resources/
# temporal_blacklist — and has no TimeType either).  A time of day is a
# microsecond-of-day long; TIME additionally carries a fixed UTC offset in
# microseconds (Z = 0; named zones are unsupported).  Field-name-tagged
# structs like durations, so every operation is plain column arithmetic.
# ---------------------------------------------------------------------------

TIME_FIELDS = ("time_us", "tz_us")
TIME_TYPE = T.StructType([T.StructField(f, T.LongType())
                          for f in TIME_FIELDS])
LOCALTIME_FIELDS = ("localtime_us",)
LOCALTIME_TYPE = T.StructType([T.StructField("localtime_us", T.LongType())])


def is_time_type(t) -> bool:
    return isinstance(t, T.StructType) and \
        tuple(f.name for f in t.fields) == TIME_FIELDS


def is_localtime_type(t) -> bool:
    return isinstance(t, T.StructType) and \
        tuple(f.name for f in t.fields) == LOCALTIME_FIELDS


def make_time(us, tz_us) -> Column:
    return F.struct(us.cast("long").alias("time_us"),
                    tz_us.cast("long").alias("tz_us"))


def make_localtime(us) -> Column:
    return F.struct(us.cast("long").alias("localtime_us"))


def time_of_day_us(col: Column, dtype) -> Column:
    """Microsecond-of-day of a TIME / LOCALTIME / timestamp column."""
    if is_time_type(dtype):
        return col.getField("time_us")
    if is_localtime_type(dtype):
        return col.getField("localtime_us")
    ts = col.cast("timestamp")
    return F.unix_micros(ts) - F.unix_micros(F.to_timestamp(F.to_date(ts)))


# Zoned datetime (beyond-reference round 7): UTC instant + the fixed
# offset that applied at that instant + the zone designator ('Z',
# '+01:00', or an IANA name resolved through stdlib zoneinfo at plan
# time).  Construction requires plan-time-constant components for named
# zones (the tz database lives driver-side); offset forms compile to
# column arithmetic.
ZONED_DT_FIELDS = ("epoch_us", "tz_us", "zone")
ZONED_DT_TYPE = T.StructType([
    T.StructField("epoch_us", T.LongType()),
    T.StructField("tz_us", T.LongType()),
    T.StructField("zone", T.StringType()),
])


def is_zoned_dt_type(t) -> bool:
    return isinstance(t, T.StructType) and \
        tuple(f.name for f in t.fields) == ZONED_DT_FIELDS


def make_zoned_dt(epoch_us, tz_us, zone) -> Column:
    return F.struct(epoch_us.cast("long").alias("epoch_us"),
                    tz_us.cast("long").alias("tz_us"),
                    zone.cast("string").alias("zone"))


def zoned_wall_ts(c: Column) -> Column:
    """Wall-clock timestamp of a zoned datetime (session TZ is UTC)."""
    return F.timestamp_micros(c.getField("epoch_us") + c.getField("tz_us"))


def zoned_dt_string(c: Column) -> Column:
    """Cypher rendering: <wall ISO>[±offset|Z][\\[zone\\]]."""
    from .temporal import iso_datetime_string

    wall = iso_datetime_string(zoned_wall_ts(c))
    tz = c.getField("tz_us")
    a = F.abs(tz)

    def p2(v):
        return F.lpad(v.cast("long").cast("string"), 2, "0")

    off = F.when(tz == 0, F.lit("Z")).otherwise(F.concat(
        F.when(tz < 0, F.lit("-")).otherwise(F.lit("+")),
        p2(F.floor(a / 3_600_000_000)), F.lit(":"),
        p2(F.floor(a / 60_000_000) % 60),
        F.when(a % 60_000_000 != 0,
               F.concat(F.lit(":"), p2(F.floor(a / 1_000_000) % 60)))
        .otherwise(F.lit(""))))
    zone = c.getField("zone")
    named = zone.isNotNull() & ~zone.rlike(r"^[+Z-]")
    return F.concat(wall, off,
                    F.when(named, F.concat(F.lit("["), zone, F.lit("]")))
                    .otherwise(F.lit("")))


def time_string(us: Column, tz_us: Column | None) -> Column:
    """Cypher ``toString()`` rendering of a time of day: HH:MM:SS with the
    fraction only when non-zero; TIME appends 'Z' or ±HH:MM[:SS]."""
    def p2(v):
        return F.lpad(v.cast("long").cast("string"), 2, "0")

    h = F.floor(us / 3_600_000_000)
    mi = F.floor(us / 60_000_000) % 60
    sec = F.floor(us / 1_000_000) % 60
    frac = us % 1_000_000
    out = F.concat(p2(h), F.lit(":"), p2(mi), F.lit(":"), p2(sec),
                   F.when(frac != 0, F.concat(
                       F.lit("."),
                       F.regexp_replace(
                           F.lpad(frac.cast("string"), 6, "0"),
                           r"0+$", ""))).otherwise(F.lit("")))
    if tz_us is None:
        return out
    a = F.abs(tz_us)
    off = F.concat(
        F.when(tz_us < 0, F.lit("-")).otherwise(F.lit("+")),
        p2(F.floor(a / 3_600_000_000)), F.lit(":"),
        p2(F.floor(a / 60_000_000) % 60),
        F.when(a % 60_000_000 != 0,
               F.concat(F.lit(":"), p2(F.floor(a / 1_000_000) % 60)))
        .otherwise(F.lit("")))
    return F.concat(out, F.when(tz_us == 0, F.lit("Z")).otherwise(off))


_ISO_DURATION = None


def parse_iso_duration(text: str):
    """ISO-8601 duration string -> (months, days, microseconds)."""
    import re
    global _ISO_DURATION
    if _ISO_DURATION is None:
        _ISO_DURATION = re.compile(
            r"^(?P<sign>-)?P(?:(?P<y>\d+)Y)?(?:(?P<mo>\d+)M)?(?:(?P<w>\d+)W)?"
            r"(?:(?P<d>\d+(?:[.,]\d+)?)D)?(?:T(?:(?P<h>\d+(?:[.,]\d+)?)H)?"
            r"(?:(?P<mi>\d+(?:[.,]\d+)?)M)?"
            r"(?:(?P<s>\d+(?:[.,]\d+)?)S)?)?$")
    m = _ISO_DURATION.match(text.strip())
    if not m or text.strip() in ("P", "-P"):
        raise ValueError(f"invalid ISO-8601 duration {text!r}")
    g = {k: v.replace(",", ".") for k, v in m.groupdict().items() if v}
    sign = -1 if "sign" in g else 1
    months = int(g.get("y", 0)) * 12 + int(g.get("mo", 0))
    # a fractional day/hour/minute (allowed on the smallest given unit,
    # comma or dot per ISO-8601) cascades into the microsecond field
    d_f = float(g.get("d", 0))
    days = int(g.get("w", 0)) * 7 + int(d_f)
    micros = round((d_f - int(d_f)) * 86_400 * _US_PER_SEC)
    micros += round((float(g.get("h", 0)) * 3600
                     + float(g.get("mi", 0)) * 60) * _US_PER_SEC)
    micros += round(float(g.get("s", 0)) * _US_PER_SEC)
    return sign * months, sign * days, sign * micros


_DURATION_MAP_KEYS = {
    "years": ("months", 12), "quarters": ("months", 3), "months": ("months", 1),
    "weeks": ("days", 7), "days": ("days", 1),
    "hours": ("microseconds", 3600 * _US_PER_SEC),
    "minutes": ("microseconds", 60 * _US_PER_SEC),
    "seconds": ("microseconds", _US_PER_SEC),
    "milliseconds": ("microseconds", 1000), "microseconds": ("microseconds", 1),
}


def _shift_temporal(col: Column, ctype, dur: Column, sign: int) -> Column:
    """date/timestamp ± duration (month shift first, then days+micros —
    Cypher/ISO calendar-arithmetic order)."""
    m = dur.getField("months") * sign
    d = dur.getField("days") * sign
    us = dur.getField("microseconds") * sign
    if _is(ctype, T.DateType):
        # Cypher: date ± duration stays a date; sub-day parts are dropped.
        return F.date_add(F.add_months(col, m.cast("int")), d.cast("int"))
    # timestamp: shift the calendar part, preserve time-of-day, then add the
    # exact day/microsecond offsets (session-timezone arithmetic).
    date_part = F.to_date(col)
    tod_us = F.unix_micros(col) - F.unix_micros(
        F.to_timestamp(date_part))
    shifted = F.to_timestamp(F.add_months(date_part, m.cast("int")))
    return F.timestamp_micros(
        F.unix_micros(shifted) + tod_us + d * F.lit(_US_PER_DAY) + us)


def _shift_time(col: Column, ctype, dur: Column, sign: int) -> Column:
    """time/localtime ± duration: only the duration's sub-day (microsecond)
    component moves a clock value — calendar components are no-ops on a
    time of day (months shift no clock; whole days wrap to the same time)
    — and the result wraps modulo 24h (Cypher time arithmetic)."""
    us = F.pmod(time_of_day_us(col, ctype)
                + dur.getField("microseconds") * sign, F.lit(_US_PER_DAY))
    out_t = TIME_TYPE if is_time_type(ctype) else LOCALTIME_TYPE
    out = make_time(us, col.getField("tz_us")) if is_time_type(ctype) \
        else make_localtime(us)
    # a null operand yields a NULL time, not a struct of null fields
    return F.when(col.isNull() | dur.isNull(),
                  F.lit(None).cast(out_t)).otherwise(out)


def _compute(expr: E.Expr, ctx: ExprContext) -> Column:
    # Inside an aggregation projection, aggregator sub-expressions compile to
    # aggregating Columns and scalars wrap them (e.g. round(avg(x), 2)).
    if ctx.in_agg and (isinstance(expr, E.CountStar) or
                       (isinstance(expr, E.FuncCall) and expr.name in E.AGG_FUNCS
                        and not (expr.name in ("min", "max") and len(expr.args) > 1))):
        return compile_aggregator(expr, ctx.with_agg(False))

    if isinstance(expr, E.LocalVar):
        if expr.name in ctx.local_vars:
            return ctx.local_vars[expr.name]
        raise KeyError(f"unbound local variable {expr.name}")

    if isinstance(expr, E.Var):
        raise PlanError(f"variable {expr.name!r} not in scope "
                        "(header miss)", code="UndefinedVariable")

    if isinstance(expr, E.Param):
        if expr.name not in ctx.params:
            raise PlanError(
                f"missing query parameter ${expr.name}",
                # a parameter named __lit<N><garbage> is the residue of a
                # malformed numeric literal (literal->param extraction
                # stops at the valid number prefix): report it as such
                code="InvalidNumberLiteral"
                if expr.name.startswith("__lit") else "MissingParameter")
        return _param_lit(ctx.params[expr.name])

    if isinstance(expr, E.Lit):
        return F.lit(expr.value)

    if isinstance(expr, E.ListLit):
        cols = [to_column(i, ctx) for i in expr.items]
        if len(cols) > 1:
            cols = _unify_list_items(cols, expr, ctx)
        return F.array(*cols)

    if isinstance(expr, E.MapLit):
        # SORTED field order: Cypher map equality ignores declaration
        # order ({a: 1, b: 2} = {b: 2, a: 1}), but Spark struct equality
        # is positional — a canonical key order makes them agree
        return F.struct(*[to_column(v, ctx).alias(k)
                          for k, v in sorted(expr.items)])

    if isinstance(expr, E.MapProjection):
        # n {.name, alias: expr, .*} — explicit items win over .* expansion
        # (SparkSQLExprMapper.scala:406-424).
        fields: dict = {}
        if expr.all_props:
            props = sorted(
                (e.key, ctx.header.col(e)) for e in ctx.header.exprs()
                if isinstance(e, E.Property) and e.owner == expr.var)
            for k, c in props:
                fields[k] = F.col(c)
        for k, v in expr.items:
            fields[k] = to_column(v, ctx)
        if not fields:
            return F.struct(F.lit(None).alias("__empty"))
        # canonical key order, like MapLit (map equality is order-blind)
        return F.struct(*[c.alias(k) for k, c in sorted(fields.items())])

    if isinstance(expr, E.Property):
        return _property(expr, ctx)

    if isinstance(expr, E.HasLabel):
        # Label column missing from header => label not in schema => false
        # for every row (discardScansForNonexistentLabels analogue).
        return F.lit(False)

    if isinstance(expr, E.HasType):
        tc = ctx.header.get(TypeOf(expr.rel))
        if tc is None:
            return F.lit(False)
        return F.col(tc).isin(*expr.types)

    if isinstance(expr, (E.StartNode, E.EndNode)):
        raise KeyError(f"{expr!r} not in header")

    if isinstance(expr, E.BinOp):
        return _binop(expr, ctx)

    if isinstance(expr, E.Not):
        cdt = spark_dtype(expr.child, ctx)
        if cdt is not None and not _is(cdt, (T.BooleanType, T.NullType)):
            # NOT of a statically non-boolean value is a user type error
            # (TCK "Failing when using NOT on string literal")
            raise PlanError(f"NOT expects a boolean, "
                            f"got {cdt.simpleString()}",
                            code="InvalidArgumentType")
        return ~to_column(expr.child, ctx)

    if isinstance(expr, E.Neg):
        if is_duration_type(spark_dtype(expr.child, ctx)):
            c = to_column(expr.child, ctx)
            return make_duration(-c.getField("months"),
                                 -c.getField("days"),
                                 -c.getField("microseconds"))
        return -to_column(expr.child, ctx)

    if isinstance(expr, E.IsNull):
        c = to_column(expr.child, ctx)
        return c.isNotNull() if expr.negated else c.isNull()

    if isinstance(expr, E.CaseExpr):
        return _case(expr, ctx)

    if isinstance(expr, E.Subscript):
        if isinstance(expr.owner, E.Var):
            # dynamic property lookup on an entity: n['name'] (TCK
            # ContainerIndex on nodes/relationships)
            props = sorted(
                ((e.key, ctx.header.col(e)) for e in ctx.header.exprs()
                 if isinstance(e, E.Property) and e.owner == expr.owner),
            )
            if props:
                key = plan_const(expr.index, ctx)
                if isinstance(key, str):
                    for k, c in props:
                        if k == key:
                            return F.col(c)
                    return F.lit(None)
                idx = to_column(expr.index, ctx)
                out = F.lit(None)
                for k, c in props:
                    out = F.when(idx == F.lit(k), F.col(c)).otherwise(out)
                return out
            hv = ctx.header.var(expr.owner.name)
            if isinstance(hv, (E.NodeVar, E.RelVar)):
                # entity with no declared properties: n[key] is null for
                # every key (mirrors the keys() == [] guard above) —
                # falling through would try_element_at the long id column
                # and raise an AnalysisException
                return F.lit(None)
        owner = to_column(expr.owner, ctx)
        ot = spark_dtype(expr.owner, ctx)
        idx = to_column(expr.index, ctx)
        it = spark_dtype(expr.index, ctx)
        # static index-type checks (TCK ExpressionAcceptance/ListOperations
        # "Fail ... when attempting to index ..."): maps take string keys,
        # lists take integer indexes — a columnar engine decides this at
        # plan time (strictly earlier than the TCK's runtime errors)
        is_path = _is(ot, T.StructType) \
            and set(ot.fieldNames()) == {"nodes", "rels"}
        if (_is(ot, T.MapType) or (_is(ot, T.StructType) and not is_path
                                   and not is_duration_type(ot))) \
                and it is not None \
                and not _is(it, (T.StringType, T.NullType)):
            raise PlanError("map element access requires a string key, "
                            f"got {it.simpleString()}",
                            code="InvalidArgumentType")
        if _is(ot, T.ArrayType) and it is not None \
                and not _is(it, (T.ByteType, T.ShortType, T.IntegerType,
                                 T.LongType, T.NullType)):
            raise PlanError("list element access requires an integer "
                            f"index, got {it.simpleString()}",
                            code="InvalidArgumentType")
        if _is(ot, T.MapType):
            return F.try_element_at(owner, idx)
        key = plan_const(expr.index, ctx)
        if _is(ot, T.StructType):
            if isinstance(key, str):
                # missing key on a map/struct yields null, not an error
                if key not in ot.fieldNames():
                    return F.lit(None)
                return owner.getField(key)
            if key is None and isinstance(expr.index, E.Lit):
                return F.lit(None)        # {a: 1}[null] -> null
            # computed key over a struct-typed map: CASE chain on fields
            out = F.lit(None)
            for fname in ot.fieldNames():
                out = F.when(idx == F.lit(fname),
                             owner.getField(fname)).otherwise(out)
            return out
        # Cypher list index is 0-based, element_at is 1-based; negative
        # indices count from the end in both (MorpheusFunctions.scala:62-74).
        # try_element_at: out-of-range yields null (Cypher) instead of the
        # ANSI error.
        return F.try_element_at(
            owner, F.when(idx >= 0, idx + 1).otherwise(idx).cast("int"))

    if isinstance(expr, E.ListSlice):
        return _slice(expr, ctx)

    if isinstance(expr, E.ListComprehension):
        if (expr.projection is not None
                and E.is_aggregation(expr.projection)) or \
                (expr.where is not None and E.is_aggregation(expr.where)):
            # TCK: aggregation inside a list comprehension is invalid
            raise PlanError("aggregation inside a list comprehension",
                            code="InvalidAggregation")
        return _list_comprehension(expr, ctx)

    if isinstance(expr, E.ListPredicate):
        return _list_predicate(expr, ctx)

    if isinstance(expr, E.ListReduce):
        lst = to_column(expr.list_expr, ctx)
        init = to_column(expr.init, ctx)
        # Spark requires the zero value's type to equal the merge lambda's
        # result type; a numeric init literal widens to the list's element
        # type (reduce(acc = 0, x IN bigint_list | acc + x)).
        lst_t = spark_dtype(expr.list_expr, ctx)
        init_v = plan_const(expr.init, ctx)
        if isinstance(init_v, (int, float)) and \
                not isinstance(init_v, bool) and \
                isinstance(lst_t, T.ArrayType) and \
                isinstance(lst_t.elementType,
                           (T.LongType, T.IntegerType, T.DoubleType,
                            T.FloatType, T.ShortType)):
            init = init.cast(lst_t.elementType)
        elem_t = lst_t.elementType if isinstance(lst_t, T.ArrayType) else None
        acc_t = spark_dtype(expr.init, ctx)
        if isinstance(expr.init, E.ListLit) and not expr.init.items \
                and elem_t is not None:
            # reduce(acc = [], ...): a bare [] is VOID-typed, which
            # aggregate() rejects; type it from the list being reduced
            # (the accumulator is a collector in this idiom)
            acc_t = T.ArrayType(elem_t)
            init = init.cast(acc_t)
        tctx = ctx.with_local_types(**{expr.acc: acc_t, expr.var: elem_t})
        return F.aggregate(
            lst, init,
            lambda acc, x: to_column(
                expr.step, tctx.with_locals(**{expr.acc: acc, expr.var: x})),
        )

    if isinstance(expr, E.FuncCall):
        return _function(expr, ctx)

    if isinstance(expr, E.CountStar):
        raise PlanError("count(*) outside aggregation context",
                        code="InvalidAggregation")

    if isinstance(expr, E.PatternPredicate):
        # the flag-column materialization stores the POSITIVE form; a
        # negated instance (RETURN NOT exists(...)) negates its flag
        c = ctx.header.get(E.PatternPredicate(expr.pattern,
                                              where=expr.where))
        if c is not None:
            return ~F.col(c) if expr.negated else F.col(c)
        raise ValueError("pattern predicate must be planned as a join "
                         "(planner bug: reached expression compiler)")

    raise NotImplementedError(f"cannot compile {expr!r}")


# ---------------------------------------------------------------------------

def _temporal_accessor(owner: Column, k: str, key: str) -> Column:
    """Calendar/clock accessor over a date/timestamp column (also serves
    zoned datetimes through their wall-clock timestamp)."""
    temporal = {
        "year": F.year, "month": F.month, "day": F.dayofmonth,
        "hour": F.hour, "minute": F.minute, "second": F.second,
        "week": F.weekofyear, "quarter": F.quarter,
        "ordinalday": F.dayofyear,
    }
    if k in temporal:
        return temporal[k](owner).cast("long")
    if k == "dayofweek":
        # ISO: Monday=1..Sunday=7 (F.dayofweek is Sunday=1)
        return (F.weekday(owner) + 1).cast("long")
    if k == "weekyear":
        # ISO week-based year = year of the week's Thursday
        return F.year(F.date_add(owner.cast("date"),
                                 3 - F.weekday(owner))).cast("long")
    if k == "dayofquarter":
        return (F.datediff(owner.cast("date"),
                           F.trunc(owner.cast("date"), "quarter"))
                + 1).cast("long")
    if k == "millisecond":
        return (F.unix_micros(owner.cast("timestamp"))
                % 1_000_000 / 1000).cast("long")
    if k == "microsecond":
        return (F.unix_micros(owner.cast("timestamp"))
                % 1_000_000).cast("long")
    if k == "epochmillis":
        return F.unix_millis(owner.cast("timestamp"))
    if k == "epochseconds":
        return F.unix_seconds(owner.cast("timestamp"))
    raise ValueError(f"unknown temporal accessor .{key}")


def _property(expr: E.Property, ctx: ExprContext) -> Column:
    owner_t = spark_dtype(expr.owner, ctx)
    key = expr.key
    # Temporal accessors: n.d.year etc (TemporalUdfs.scala:93-150 — here pure
    # column functions, no UDFs).
    if is_zoned_dt_type(owner_t):
        c = to_column(expr.owner, ctx)
        k = key.lower()
        tz = c.getField("tz_us")
        if k == "timezone":
            return c.getField("zone")
        if k == "offset":
            a_ = F.abs(tz)
            return F.when(tz == 0, F.lit("Z")).otherwise(F.concat(
                F.when(tz < 0, F.lit("-")).otherwise(F.lit("+")),
                F.lpad(F.floor(a_ / 3_600_000_000).cast("string"), 2, "0"),
                F.lit(":"),
                F.lpad((F.floor(a_ / 60_000_000) % 60).cast("string"),
                       2, "0")))
        if k == "offsetseconds":
            return F.floor(tz / 1_000_000).cast("long")
        if k == "offsetminutes":
            return F.floor(tz / 60_000_000).cast("long")
        if k == "epochmillis":
            return F.floor(c.getField("epoch_us") / 1000).cast("long")
        if k == "epochseconds":
            return F.floor(c.getField("epoch_us") / 1_000_000).cast("long")
        # calendar/clock accessors read the WALL clock in the zone
        owner_t = T.TimestampType()
        owner = zoned_wall_ts(c)
        return _temporal_accessor(owner, k, key)
    if _is(owner_t, (T.DateType, T.TimestampType)):
        owner = to_column(expr.owner, ctx)
        k = key.lower()
        return _temporal_accessor(owner, k, key)
    if is_duration_type(owner_t):
        d = to_column(expr.owner, ctx)
        k = key.lower()
        mo, dd, us = (d.getField("months"), d.getField("days"),
                      d.getField("microseconds"))
        accessors = {
            # calendar part (Neo4j semantics: months is the TOTAL months)
            "years": F.floor(mo / 12).cast("long"),
            "quarters": F.floor(mo / 3).cast("long"),
            "months": mo,
            "monthsofyear": mo % 12,
            "weeks": F.floor(dd / 7).cast("long"),
            "days": dd,
            "daysofweek": dd % 7,
            # time part (totals over the microsecond component)
            "hours": F.floor(us / (3600 * _US_PER_SEC)).cast("long"),
            "minutes": F.floor(us / (60 * _US_PER_SEC)).cast("long"),
            "minutesofhour": F.floor(us / (60 * _US_PER_SEC)).cast("long") % 60,
            "seconds": F.floor(us / _US_PER_SEC).cast("long"),
            "secondsofminute": F.floor(us / _US_PER_SEC).cast("long") % 60,
            "milliseconds": F.floor(us / 1000).cast("long"),
            "microseconds": us,
            # sub-group remainders (reference durationAccessor :136-143)
            "quartersofyear": F.floor(mo / 3).cast("long") % 4,
            "monthsofquarter": mo % 3,
            "millisecondsofsecond": F.floor((us % _US_PER_SEC) / 1000)
                                     .cast("long"),
            "microsecondsofsecond": us % _US_PER_SEC,
        }
        if k in accessors:
            return accessors[k]
        raise ValueError(f"unknown duration accessor .{key}")
    if is_time_type(owner_t) or is_localtime_type(owner_t):
        c = to_column(expr.owner, ctx)
        us = time_of_day_us(c, owner_t)
        k = key.lower()
        clock = {
            "hour": F.floor(us / 3_600_000_000).cast("long"),
            "minute": (F.floor(us / 60_000_000) % 60).cast("long"),
            "second": (F.floor(us / 1_000_000) % 60).cast("long"),
            "millisecond": (F.floor(us / 1000) % 1000).cast("long"),
            "microsecond": (us % 1_000_000).cast("long"),
        }
        if k in clock:
            return clock[k]
        if is_time_type(owner_t):
            tz = c.getField("tz_us")
            if k == "offsetseconds":
                return F.floor(tz / 1_000_000).cast("long")
            if k == "offsetminutes":
                return F.floor(tz / 60_000_000).cast("long")
            if k in ("offset", "timezone"):
                a = F.abs(tz)
                return F.when(tz == 0, F.lit("Z")).otherwise(F.concat(
                    F.when(tz < 0, F.lit("-")).otherwise(F.lit("+")),
                    F.lpad(F.floor(a / 3_600_000_000).cast("string"),
                           2, "0"),
                    F.lit(":"),
                    F.lpad((F.floor(a / 60_000_000) % 60).cast("string"),
                           2, "0")))
        raise ValueError(f"unknown time accessor .{key}")
    if is_point_type(owner_t):
        c = to_column(expr.owner, ctx)
        k = key.lower()
        geo = c.getField("crs").startswith("wgs-84")
        if k in ("x", "y", "z"):
            return c.getField(k)
        if k == "longitude":
            return F.when(geo, c.getField("x"))
        if k == "latitude":
            return F.when(geo, c.getField("y"))
        if k == "height":
            return F.when(geo, c.getField("z"))
        if k == "crs":
            return c.getField("crs")
        if k == "srid":
            out = F.lit(None).cast("long")
            for crs, srid in _CRS_SRID.items():
                out = F.when(c.getField("crs") == crs,
                             F.lit(srid).cast("long")).otherwise(out)
            return out
        raise ValueError(f"unknown point accessor .{key}")
    if _is(owner_t, T.StructType):
        from .anyvalue import is_any_type
        if is_any_type(owner_t):
            # TCK SemanticErrorAcceptance "Handling property access on the
            # Any type": the value may be a primitive in some rows, which
            # Cypher treats as a type error
            raise PlanError(
                "property access on a mixed-type (Any) value",
                code="InvalidPropertyAccess")
        return to_column(expr.owner, ctx).getField(key)
    if _is(owner_t, T.MapType):
        return F.element_at(to_column(expr.owner, ctx), F.lit(key))
    if ctx.header.get(expr.owner) is not None:
        # Property of a graph element that is not in the schema -> null
        # (SparkSQLExprMapper.scala:151).
        return F.lit(None)
    if isinstance(expr.owner, (E.StartNode, E.EndNode)) or (
            isinstance(expr.owner, E.FuncCall)
            and expr.owner.name in ("startnode", "endnode")):
        # startNode(r)/endNode(r) compile to the endpoint ID column (the
        # reference does the same: SparkSQLExprMapper.scala:254-255), so
        # property access needs the node row itself -- tell the user the
        # supported spelling instead of letting getField fail on a BIGINT.
        raise NotImplementedError(
            "property access on startNode()/endNode() of an unbound "
            "endpoint: bind the endpoint in the pattern instead, e.g. "
            "MATCH (s)-[r]->() RETURN s." + key)
    # Fall back: compute owner (e.g. map literal / function result).
    return to_column(expr.owner, ctx).getField(key)


def _binop(expr: E.BinOp, ctx: ExprContext) -> Column:
    op = expr.op
    if op in ("AND", "OR", "XOR"):
        l, r = to_column(expr.lhs, ctx), to_column(expr.rhs, ctx)
        if op == "AND":
            return l & r
        if op == "OR":
            return l | r
        return (l & ~r) | (~l & r)

    if op == "IN":
        rdt = spark_dtype(expr.rhs, ctx)
        if rdt is not None and not _is(rdt, (T.ArrayType, T.NullType)):
            # IN on a non-list literal/expression is a user type error
            # (TCK SemanticErrorAcceptance "Failing when using IN on ...")
            raise PlanError(f"IN expects a list, got {rdt.simpleString()}",
                            code="InvalidArgumentType")
        r = to_column(expr.rhs, ctx)
        # x IN [] is false even for null x (openCypher).
        if isinstance(expr.lhs, E.Lit) and expr.lhs.value is None:
            # a bare NULL needle is VOID-typed, which comparison rejects
            # at analysis; the 3VL answer needs no lookup anyway
            return F.when(F.size(r) == 0, F.lit(False)) \
                .otherwise(F.lit(None).cast("boolean"))
        l = to_column(expr.lhs, ctx)
        # OR-fold of 3VL element equality (TCK ListOperations): any true
        # -> true, else any null/unknown -> null, else false.  Needed over
        # plain array_contains for nested-list needles with null elements
        # (Spark equality would treat the nulls as equal) and for
        # incomparable element types (decided false, not an analysis
        # error).
        ldt = spark_dtype(expr.lhs, ctx)
        et = rdt.elementType if _is(rdt, T.ArrayType) else None
        z = F.transform(r, lambda e: _eq3(l, e, ldt, et))
        return (F.when(r.isNull(), F.lit(None).cast("boolean"))
                .when(F.size(r) == 0, F.lit(False))
                .when(F.coalesce(F.array_contains(z, F.lit(True)),
                                 F.lit(False)), F.lit(True))
                .when(F.exists(z, lambda x: x.isNull()),
                      F.lit(None).cast("boolean"))
                .otherwise(F.lit(False)))

    if op in ("STARTS WITH", "ENDS WITH", "CONTAINS"):
        # openCypher (TCK StartsWithAcceptance "Handling non-string
        # operands"): a statically non-string operand makes the whole
        # predicate null, never false
        for side in (expr.lhs, expr.rhs):
            st = spark_dtype(side, ctx)
            if st is not None and not _is(st, (T.StringType, T.NullType)):
                return F.lit(None).cast("boolean")
        l, r = to_column(expr.lhs, ctx), to_column(expr.rhs, ctx)
        if op == "STARTS WITH":
            return l.startswith(r)
        if op == "ENDS WITH":
            return l.endswith(r)
        return l.contains(r)

    if op == "=~":
        # Cypher regex matches the ENTIRE string (MorpheusFunctions.scala:98
        # wraps RLike the same way).
        l = to_column(expr.lhs, ctx)
        r = to_column(expr.rhs, ctx)
        return F.regexp_like(l, F.concat(F.lit("^(?:"), r, F.lit(")$")))

    l, r = to_column(expr.lhs, ctx), to_column(expr.rhs, ctx)
    if op in ("=", "<>", "<", "<=", ">", ">="):
        # Cypher semantics for incomparable static types: EQUALITY between
        # values of different type classes is decided — `1 = '1'` is false
        # and `1 <> '1'` is true (openCypher equality; the reference
        # inherits it from the neo4j front end's typer, okapi-ir/.../impl/
        # typer/) — while ORDERING comparisons yield null (PredicateTests
        # "fails when comparing ... incompatible types" expects empty
        # results).  A null operand still nulls either form (3VL).  The
        # static guard also keeps Spark's ANSI cast from turning
        # `4 < 'string'` into a runtime crash.
        ldt, rdt = spark_dtype(expr.lhs, ctx), spark_dtype(expr.rhs, ctx)
        if op in ("=", "<>"):
            # _eq3 folds in decided-inequality for incomparable type
            # classes / differing map key sets, and the recursive null-
            # aware list comparison (TCK ListOperations)
            eq = _eq3(l, r, ldt, rdt)
            return eq if op == "=" else ~eq
        if not _comparable(ldt, rdt):
            return F.lit(None).cast("boolean")
        if is_zoned_dt_type(ldt) and is_zoned_dt_type(rdt):
            # zoned datetimes order by instant
            l, r = l.getField("epoch_us"), r.getField("epoch_us")
        elif is_time_type(ldt) and is_time_type(rdt):
            # TIME orders by instant: local clock minus UTC offset
            l = l.getField("time_us") - l.getField("tz_us")
            r = r.getField("time_us") - r.getField("tz_us")
        elif is_localtime_type(ldt) and is_localtime_type(rdt):
            l, r = l.getField("localtime_us"), r.getField("localtime_us")
    if op == "<":
        return l < r
    if op == "<=":
        return l <= r
    if op == ">":
        return l > r
    if op == ">=":
        return l >= r

    lt, rt = spark_dtype(expr.lhs, ctx), spark_dtype(expr.rhs, ctx)
    if op == "+":
        # Overloads: string concat, list concat, list+element, temporal +
        # duration (SparkSQLExprMapper.scala:171-188).
        if is_duration_type(lt) and is_duration_type(rt):
            return make_duration(
                l.getField("months") + r.getField("months"),
                l.getField("days") + r.getField("days"),
                l.getField("microseconds") + r.getField("microseconds"))
        if _is(lt, (T.DateType, T.TimestampType)) and is_duration_type(rt):
            return _shift_temporal(l, lt, r, 1)
        if is_duration_type(lt) and _is(rt, (T.DateType, T.TimestampType)):
            return _shift_temporal(r, rt, l, 1)
        if (is_time_type(lt) or is_localtime_type(lt)) \
                and is_duration_type(rt):
            return _shift_time(l, lt, r, 1)
        if is_duration_type(lt) and (is_time_type(rt)
                                     or is_localtime_type(rt)):
            return _shift_time(r, rt, l, 1)
        if _is(lt, T.StringType) or _is(rt, T.StringType):
            return F.concat(l, r)
        if _is(lt, T.ArrayType) and _is(rt, T.ArrayType):
            return F.concat(l, r)
        # list + element appends — but a NULL operand nulls the whole
        # result (openCypher Add: [1, 2] + null IS null, not [1, 2, null])
        if _is(lt, T.ArrayType):
            return F.when(r.isNull(), F.lit(None)) \
                .otherwise(F.concat(l, F.array(r)))
        if _is(rt, T.ArrayType):
            return F.when(l.isNull(), F.lit(None)) \
                .otherwise(F.concat(F.array(l), r))
        return l + r
    if op == "-":
        if is_duration_type(lt) and is_duration_type(rt):
            return make_duration(
                l.getField("months") - r.getField("months"),
                l.getField("days") - r.getField("days"),
                l.getField("microseconds") - r.getField("microseconds"))
        if _is(lt, (T.DateType, T.TimestampType)) and is_duration_type(rt):
            return _shift_temporal(l, lt, r, -1)
        if (is_time_type(lt) or is_localtime_type(lt)) \
                and is_duration_type(rt):
            return _shift_time(l, lt, r, -1)
        return l - r
    if op == "*":
        if is_duration_type(lt) or is_duration_type(rt):
            d, n_ = (l, r) if is_duration_type(lt) else (r, l)
            return make_duration(d.getField("months") * n_,
                                 d.getField("days") * n_,
                                 d.getField("microseconds") * n_)
        return l * r
    if op == "/":
        if is_duration_type(lt):
            return make_duration(l.getField("months") / r,
                                 l.getField("days") / r,
                                 l.getField("microseconds") / r)
        # Cypher: integer / integer -> integer (truncating toward zero);
        # dividing by integer zero is an error (Spark ANSI raises too).
        if _is(lt, (T.LongType, T.IntegerType, T.ShortType, T.ByteType)) and \
           _is(rt, (T.LongType, T.IntegerType, T.ShortType, T.ByteType)):
            return (l / r).cast("long")
        if _is(lt, (T.DoubleType, T.FloatType)) \
                or _is(rt, (T.DoubleType, T.FloatType)):
            # FLOAT division follows IEEE 754 (x/0.0 = ±Infinity, 0.0/0.0
            # = NaN, never an error) — Spark ANSI raises DIVIDE_BY_ZERO,
            # so the zero-divisor case is decided branch-side.  A null
            # divisor falls to the otherwise (null / null = null).  The
            # Infinity sign honors the divisor's sign BIT: x / -0.0 is
            # -(x / 0.0) (ADVICE r5 — `r == 0` also matches -0.0, whose
            # only portable detector is its string rendering "-0.0").
            neg_zero_div = r.cast("string").startswith("-")
            return F.when(
                r == 0,
                F.when(l > 0, F.when(neg_zero_div, F.lit(float("-inf")))
                       .otherwise(F.lit(float("inf"))))
                .when(l < 0, F.when(neg_zero_div, F.lit(float("inf")))
                      .otherwise(F.lit(float("-inf"))))
                .when(l == 0, F.lit(float("nan")))
                .otherwise(F.lit(None).cast("double"))) \
                .otherwise(l.cast("double") / r)
        return l / r
    if op == "%":
        if _is(lt, (T.DoubleType, T.FloatType)) \
                or _is(rt, (T.DoubleType, T.FloatType)):
            # IEEE: x % 0.0 is NaN, not an error
            return F.when(
                r == 0,
                F.when(l.isNotNull(), F.lit(float("nan")))
                .otherwise(F.lit(None).cast("double"))) \
                .otherwise(l % r)
        return l % r
    if op == "^":
        return F.pow(l, r)
    raise NotImplementedError(f"operator {op}")


def _case(expr: E.CaseExpr, ctx: ExprContext) -> Column:
    col = None
    test = to_column(expr.test, ctx) if expr.test is not None else None
    for when, then in expr.alternatives:
        cond = (test == to_column(when, ctx)) if test is not None \
            else to_column(when, ctx)
        if test is None and _is(spark_dtype(when, ctx), T.NullType):
            # CASE WHEN null: an untyped NULL condition is legal Cypher
            # (never matches); give Spark a boolean
            cond = cond.cast("boolean")
        thenc = to_column(then, ctx)
        col = F.when(cond, thenc) if col is None else col.when(cond, thenc)
    default = to_column(expr.default, ctx) if expr.default is not None else F.lit(None)
    return col.otherwise(default) if col is not None else default


def _slice(expr: E.ListSlice, ctx: ExprContext) -> Column:
    owner = to_column(expr.owner, ctx)
    n = F.size(owner)
    lo = to_column(expr.lo, ctx).cast("int") if expr.lo is not None else F.lit(0)
    hi = to_column(expr.hi, ctx).cast("int") if expr.hi is not None else n
    lo = F.when(lo < 0, F.greatest(n + lo, F.lit(0))).otherwise(F.least(lo, n))
    hi = F.when(hi < 0, F.greatest(n + hi, F.lit(0))).otherwise(F.least(hi, n))
    length = F.greatest(hi - lo, F.lit(0))
    return F.slice(owner, lo + 1, length)


def _list_comprehension(expr: E.ListComprehension, ctx: ExprContext) -> Column:
    lst = to_column(expr.list_expr, ctx)
    lt = spark_dtype(expr.list_expr, ctx)
    ctx = ctx.with_local_types(**{
        expr.var: lt.elementType if isinstance(lt, T.ArrayType) else None})
    if expr.where is not None:
        lst = F.filter(lst, lambda x: to_column(
            expr.where, ctx.with_locals(**{expr.var: x})))
    if expr.projection is not None:
        lst = F.transform(lst, lambda x: to_column(
            expr.projection, ctx.with_locals(**{expr.var: x})))
    return lst


def _list_predicate(expr: E.ListPredicate, ctx: ExprContext) -> Column:
    lst = to_column(expr.list_expr, ctx)
    lt = spark_dtype(expr.list_expr, ctx)
    ctx = ctx.with_local_types(**{
        expr.var: lt.elementType if isinstance(lt, T.ArrayType) else None})

    def pred(x):
        return to_column(expr.where, ctx.with_locals(**{expr.var: x}))

    if expr.kind == "any":
        return F.exists(lst, pred)
    if expr.kind == "all":
        return ~F.exists(lst, lambda x: ~pred(x))
    if expr.kind == "none":
        return ~F.exists(lst, pred)
    if expr.kind == "single":
        return F.size(F.filter(lst, pred)) == 1
    raise ValueError(expr.kind)


# ---------------------------------------------------------------------------
# Scalar function surface (SURVEY §2.5; SparkSQLExprMapper.scala:199-478)
# ---------------------------------------------------------------------------

_EPOCH0 = None


def _py_epoch_us(wall) -> int:
    import datetime as dtm
    return (wall - dtm.datetime(1970, 1, 1)) // dtm.timedelta(microseconds=1)


def _off_str(off_us: int) -> str:
    if off_us == 0:
        return "Z"
    sign, a = ("-", -off_us) if off_us < 0 else ("+", off_us)
    a //= 1_000_000
    s = f"{sign}{a // 3600:02d}:{a // 60 % 60:02d}"
    if a % 60:
        s += f":{a % 60:02d}"
    return s


def _py_wall(vals: dict):
    """Constant component map -> wall-clock datetime (all Cypher date
    systems), mirroring the column composition used for unzoned maps."""
    import datetime as dtm

    from .temporal import py_week_date
    y = vals["year"]
    if "week" in vals:
        d = py_week_date(y, vals["week"], vals.get("dayofweek", 1))
    elif "quarter" in vals:
        d = dtm.date(y, (vals["quarter"] - 1) * 3 + 1, 1) \
            + dtm.timedelta(days=vals.get("dayofquarter", 1) - 1)
    elif "ordinalday" in vals:
        d = dtm.date(y, 1, 1) + dtm.timedelta(days=vals["ordinalday"] - 1)
    else:
        d = dtm.date(y, vals.get("month", 1), vals.get("day", 1))
    us = vals.get("millisecond", 0) * 1000 + vals.get("microsecond", 0)
    return dtm.datetime(d.year, d.month, d.day, vals.get("hour", 0),
                        vals.get("minute", 0), vals.get("second", 0), us)


def _zoned_datetime(expr: E.FuncCall, ctx: ExprContext) -> Column:
    """datetime() with a time zone -> ZONED_DT struct.  Named zones
    resolve through the driver-side tz database at plan time (constant
    components required); fixed offsets compile to column arithmetic."""
    from .temporal import parse_tz_offset, parse_zoned_datetime_string

    arg = expr.args[0]
    if isinstance(arg, E.MapLit):
        tz_item = next(v for k, v in arg.items if k.lower() == "timezone")
        tz_v = plan_const(tz_item, ctx)
        rest = E.MapLit(tuple((k, v) for k, v in arg.items
                              if k.lower() != "timezone"))
        if tz_v is _NO_CONST:
            # PER-ROW time zone (round 9, closes the temporal_blacklist
            # "per-row zone arithmetic" gap): the zone string is a
            # column, so the offset lookup must happen executor-side.
            # ``to_utc_timestamp(wall, tz)`` is exactly that — the JVM's
            # ZoneId/zone-rules resolution as a Catalyst expression,
            # handling named zones (DST-aware) AND fixed-offset strings
            # ("+01:00" parses as a ZoneOffset) — no Python UDF.
            tz_col = to_column(tz_item, ctx)
            wall = _function(E.FuncCall("datetime", (rest,)), ctx)
            epoch = F.unix_micros(F.to_utc_timestamp(wall, tz_col))
            return F.when(wall.isNull() | tz_col.isNull(),
                          F.lit(None).cast(ZONED_DT_TYPE)) \
                .otherwise(make_zoned_dt(
                    epoch, F.unix_micros(wall) - epoch, tz_col))
        if not isinstance(tz_v, str):
            raise PlanError("timezone must be a string",
                            code="InvalidArgumentValue")
        named = tz_v not in ("Z", "z") and tz_v[0] not in "+-"
        if named:
            try:
                from zoneinfo import ZoneInfo
                zi = ZoneInfo(tz_v)
            except Exception:
                raise PlanError(f"unknown time zone {tz_v!r}",
                                code="UnknownTimeZone")
            vals = {}
            for k, v in rest.items:
                cv = plan_const(v, ctx)
                if cv is _NO_CONST:
                    raise PlanError(
                        "named-time-zone datetime construction requires "
                        "constant components (the tz database is "
                        "driver-side)")
                vals[k.lower()] = cv
            wall = _py_wall(vals)
            off_us = round(zi.utcoffset(wall.replace(tzinfo=zi))
                           .total_seconds() * 1_000_000)
            return make_zoned_dt(F.lit(_py_epoch_us(wall) - off_us),
                                 F.lit(off_us), F.lit(tz_v))
        off_us = parse_tz_offset(tz_v)
        wall = _function(E.FuncCall("datetime", (rest,)), ctx)
        return F.when(wall.isNull(), F.lit(None).cast(ZONED_DT_TYPE)) \
            .otherwise(make_zoned_dt(F.unix_micros(wall) - F.lit(off_us),
                                     F.lit(off_us), F.lit(_off_str(off_us))))
    v = plan_const(arg, ctx)
    wall, off, zone = parse_zoned_datetime_string(v)
    return make_zoned_dt(F.lit(_py_epoch_us(wall) - off), F.lit(off),
                         F.lit(zone if zone is not None else _off_str(off)))


def _function(expr: E.FuncCall, ctx: ExprContext) -> Column:
    name = expr.name
    args = expr.args

    def a(i):
        return to_column(args[i], ctx)

    cols = None  # lazily build all arg columns

    def all_cols():
        return [to_column(x, ctx) for x in args]

    # --- element/meta ---------------------------------------------------
    if name == "id":
        return a(0)  # var column already stores the id
    if name == "labels":
        var = args[0]
        if isinstance(var, E.Lit) and var.value is None:
            return F.lit(None).cast("array<string>")
        _lt = spark_dtype(var, ctx)
        if isinstance(var, (E.Lit, E.Param)) \
                or isinstance(var, E.RelVar) \
                or (_is(_lt, T.StructType)
                    and set(_lt.fieldNames()) == {"nodes", "rels"}):
            # literals, relationships and paths have no labels (TCK
            # FunctionsAcceptance "labels() failing on ...")
            raise PlanError("labels() expects a node",
                            code="InvalidArgumentType")
        pairs = sorted(
            ((e.label, ctx.header.col(e)) for e in ctx.header.exprs()
             if isinstance(e, E.HasLabel) and e.node == var),
        )
        if not pairs:
            arr = F.array().cast("array<string>")
        else:
            # cast: an OPTIONAL MATCH on a schema-unknown label pads the
            # flag with an untyped null, which CASE WHEN rejects
            arr = F.array_compact(F.array(
                *[F.when(F.col(c).cast("boolean"), F.lit(lbl))
                  for lbl, c in pairs]))
        idc = ctx.header.get(var)
        if idc is not None:
            # labels(null) is null (unmatched OPTIONAL entity)
            return F.when(F.col(idc).isNull(),
                          F.lit(None).cast("array<string>")).otherwise(arr)
        return arr
    if name == "type":
        tc = ctx.header.get(TypeOf(args[0]))
        if tc is None:
            raise PlanError(f"type() of non-relationship {args[0]!r}",
                            code="InvalidArgumentType")
        return F.col(tc)
    if name == "startnode":
        return F.col(ctx.header.col(E.StartNode(args[0])))
    if name == "endnode":
        return F.col(ctx.header.col(E.EndNode(args[0])))
    if name == "keys":
        var = args[0]
        props = sorted(
            ((e.key, ctx.header.col(e)) for e in ctx.header.exprs()
             if isinstance(e, E.Property) and e.owner == var),
        )
        idc = ctx.header.get(var) if isinstance(var, E.Var) else None

        def _null_guarded(arr):
            # keys(null) is null (unmatched OPTIONAL entity)
            if idc is None:
                return arr
            return F.when(F.col(idc).isNull(),
                          F.lit(None).cast("array<string>")).otherwise(arr)

        if props:
            # entity: a null-valued property column means "property absent
            # on this element" -> excluded (reference CypherMap semantics)
            return _null_guarded(F.array_compact(F.array(
                *[F.when(F.col(c).isNotNull(), F.lit(k))
                  for k, c in props])))
        if isinstance(var, E.Var) and ctx.header.var(var.name) is not None:
            # entity with no declared properties: keys() = []
            return _null_guarded(F.array().cast("array<string>"))
        # map value (literal / projection / nested struct): every key is
        # present even when its value is null (TCK Keys on literal maps)
        t = spark_dtype(args[0], ctx)
        if _is(t, T.StructType):
            return F.array(*[F.lit(f) for f in t.fieldNames()])
        if _is(t, T.MapType):
            return F.map_keys(a(0))
        return F.array().cast("array<string>")
    if name == "properties":
        var = args[0]
        if isinstance(var, E.Lit) and var.value is None:
            return F.lit(None)
        _pt = spark_dtype(var, ctx)
        if not isinstance(var, (E.NodeVar, E.RelVar)) and (
                (isinstance(var, (E.Lit, E.Param))
                 and not isinstance(plan_const(var, ctx), dict))
                or _is(_pt, (T.ArrayType, T.StringType, T.BooleanType))
                or isinstance(_pt, _NUMERIC_TYPES)):
            # only nodes, relationships and maps carry properties (TCK
            # FunctionsAcceptance "properties() failing on ...")
            raise PlanError("properties() expects a node, relationship "
                            "or map", code="InvalidArgumentType")
        if _is(_pt, (T.MapType, T.StructType)) \
                and not isinstance(var, (E.NodeVar, E.RelVar)):
            return a(0)         # properties(map) is the map itself
        props = sorted(
            ((e.key, ctx.header.col(e)) for e in ctx.header.exprs()
             if isinstance(e, E.Property) and e.owner == var),
        )
        # no declared properties -> empty map {} (a zero-field struct is not
        # representable; Morpheus returns an empty CypherMap)
        out = F.struct(*[F.col(c).alias(k) for k, c in props]) if props \
            else F.create_map()
        idc = ctx.header.get(var) if isinstance(var, E.Var) else None
        if idc is not None:
            # properties(null) is null (unmatched OPTIONAL entity)
            return F.when(F.col(idc).isNull(), F.lit(None)).otherwise(out)
        return out
    if name == "exists":
        if not isinstance(args[0], E.Property):
            # TCK SemanticErrorAcceptance "Failing when checking existence
            # of a non-property and non-pattern" (pattern forms are
            # planned as PatternPredicate before reaching here)
            raise PlanError("exists() expects a property or a pattern",
                            code="InvalidArgumentExpression")
        return a(0).isNotNull()
    if name == "timestamp":
        return F.unix_millis(F.current_timestamp())

    # --- bitwise (Expr.scala:916-948) -----------------------------------
    if name == "shiftleft":
        return F.shiftleft(a(0), int(plan_const(args[1], ctx)))
    if name == "shiftrightunsigned":
        return F.shiftrightunsigned(a(0), int(plan_const(args[1], ctx)))
    if name == "bitwiseand":
        return a(0).bitwiseAND(a(1))
    if name == "bitwiseor":
        return a(0).bitwiseOR(a(1))
    if name == "bitwisexor":
        return a(0).bitwiseXOR(a(1))

    # --- id helpers (Expr.scala ToId :676, PrefixId :667) ---------------
    if name == "toid":
        return a(0).cast("long")
    if name == "prefixid":
        # prefix into the high bits of the long id (SURVEY §1.6 — replaces
        # the reference's byte-prefixed binary AddPrefix expression)
        from .records import PREFIX_SHIFT
        return a(0).cast("long") + (a(1).cast("long") * F.lit(1 << PREFIX_SHIFT))

    # --- casts ----------------------------------------------------------
    if name == "bigdecimal":
        p = int(plan_const(args[1], ctx))
        s = int(plan_const(args[2], ctx)) if len(args) > 2 else 0
        return a(0).cast(f"decimal({p},{s})")
    if name in ("tointeger", "tofloat"):
        if isinstance(args[0], (E.NodeVar, E.RelVar)):
            # the entity's id column is numeric, but converting an entity
            # is a type error (TCK "failing on invalid arguments")
            raise PlanError(f"{name}() expects a string or number, "
                            "got an entity", code="InvalidArgumentValue")
        t = spark_dtype(args[0], ctx)
        from .anyvalue import any_to_number, is_any_type
        if is_any_type(t):
            # tagged-union Any input: numbers convert, numeric strings
            # parse, anything else is null (TCK "toInteger() handling
            # Any type")
            return any_to_number(
                a(0), "integer" if name == "tointeger" else "float")
        if t is not None and not _is(t, (T.StringType, T.NullType)) \
                and not isinstance(t, T.NumericType):
            # openCypher (TCK TypeConversionFunctions): toInteger/toFloat
            # accept only strings and numbers — booleans, lists, maps and
            # entities are a type error
            raise PlanError(f"{name}() expects a string or number, "
                            f"got {t.simpleString()}",
                            code="InvalidArgumentValue")
        src = a(0)
        if t is None or _is(t, T.StringType):
            # Cypher: unparseable strings -> null (try_cast is a Column
            # method, not an F function); unknown static type gets the
            # same forgiving path
            dbl = src.try_cast("double")
            return dbl.cast("long") if name == "tointeger" else dbl
        return src.cast("long" if name == "tointeger" else "double")
    if name == "tostring":
        t = spark_dtype(args[0], ctx)
        from .anyvalue import any_to_string, is_any_type
        if is_any_type(t):
            # tagged-union Any input (TCK "toString() should work on Any
            # type"): per-tag rendering, pure column CASE
            return any_to_string(a(0))
        if isinstance(args[0], (E.NodeVar, E.RelVar)) \
                or _is(t, (T.ArrayType, T.MapType)) \
                or (_is(t, T.StructType) and not (
                    is_duration_type(t) or is_time_type(t)
                    or is_localtime_type(t) or is_zoned_dt_type(t)
                    or is_point_type(t))):
            # openCypher (TCK TypeConversionFunctions "failing on invalid
            # arguments"): toString converts numbers, strings, booleans
            # and temporal values only
            raise PlanError(f"toString() expects a number, string, boolean "
                            f"or temporal value",
                            code="InvalidArgumentValue")
        if is_point_type(t):
            p = a(0)
            num = lambda c: c.cast("string")  # noqa: E731  (1.0 -> "1.0")

            def coord(field, label):
                return F.when(p.getField(field).isNotNull(),
                              F.concat(F.lit(f", {label}: "),
                                       num(p.getField(field)))) \
                    .otherwise(F.lit(""))

            return F.when(p.isNull(), F.lit(None).cast("string")).otherwise(
                F.concat(F.lit("point({x: "), num(p.getField("x")),
                         F.lit(", y: "), num(p.getField("y")),
                         coord("z", "z"),
                         F.lit(", crs: '"), p.getField("crs"),
                         F.lit("'})")))
        if is_duration_type(t):
            # ISO-8601 rendering (neo4j style): P[yY][mM][dD]T[hH][mM][sS],
            # zero components omitted, all-zero -> PT0S
            dur = a(0)
            mo, dd = dur.getField("months"), dur.getField("days")
            us = dur.getField("microseconds")
            y, rm = (mo / 12).cast("long"), mo % 12
            h = (us / 3_600_000_000).cast("long")
            mi = ((us % 3_600_000_000) / 60_000_000).cast("long")
            us_s = us % 60_000_000
            sec_i = (us_s / 1_000_000).cast("long")
            frac = us_s % 1_000_000

            def part(v, unit):
                return F.when(v != 0, F.concat(v.cast("string"),
                                               F.lit(unit))) \
                    .otherwise(F.lit(""))

            # the fraction renders as absolute digits; a pure sub-second
            # negative ("-0.5S") needs an explicit "-0" whole part
            sec_str = F.when((sec_i == 0) & (frac < 0), F.lit("-0")) \
                .otherwise(sec_i.cast("string"))
            secs = F.when(
                (sec_i == 0) & (frac == 0), F.lit("")).otherwise(
                F.concat(
                    sec_str,
                    F.when(frac != 0, F.concat(
                        F.lit("."),
                        F.regexp_replace(
                            F.lpad(F.abs(frac).cast("string"), 6, "0"),
                            r"0+$", ""))).otherwise(F.lit("")),
                    F.lit("S")))
            time_part = F.concat(part(h, "H"), part(mi, "M"), secs)
            body = F.concat(part(y, "Y"), part(rm, "M"), part(dd, "D"),
                            F.when(time_part != "",
                                   F.concat(F.lit("T"), time_part))
                            .otherwise(F.lit("")))
            return F.when(dur.isNull(), F.lit(None).cast("string")) \
                .when(body == "", F.lit("PT0S")) \
                .otherwise(F.concat(F.lit("P"), body))
        if is_zoned_dt_type(t):
            return F.when(a(0).isNull(), F.lit(None).cast("string")) \
                .otherwise(zoned_dt_string(a(0)))
        if is_time_type(t) or is_localtime_type(t):
            c = a(0)
            return F.when(c.isNull(), F.lit(None).cast("string")) \
                .otherwise(time_string(
                    time_of_day_us(c, t),
                    c.getField("tz_us") if is_time_type(t) else None))
        if _is(t, T.TimestampType):
            # Cypher ISO rendering: 'T' separator (Spark's cast uses ' ')
            from .temporal import iso_datetime_string
            return iso_datetime_string(a(0))
        return a(0).cast("string")
    if name == "toboolean":
        t = spark_dtype(args[0], ctx)
        if t is not None and not _is(t, (T.BooleanType, T.StringType,
                                         T.NullType)):
            # openCypher (TCK TypeConversionFunctions "`toBoolean()` on
            # invalid types"): only strings and booleans convert
            raise PlanError(f"toBoolean() expects a string or boolean, "
                            f"got {t.simpleString()}",
                            code="InvalidArgumentValue")
        return a(0).try_cast("boolean")

    # --- strings --------------------------------------------------------
    simple = {
        "toupper": F.upper, "tolower": F.lower,
        "upper": F.upper, "lower": F.lower, "trim": F.trim,
        "ltrim": F.ltrim, "rtrim": F.rtrim, "reverse": F.reverse,
        "sqrt": F.sqrt, "exp": F.exp, "log": F.log, "log10": F.log10,
        # openCypher floor()/ceil() return FLOAT (TCK MathematicalAcceptance;
        # caught by the Gherkin harness's typed value comparison)
        "abs": F.abs, "ceil": lambda c: F.ceil(c).cast("double"),
        "floor": lambda c: F.floor(c).cast("double"),
        "sign": lambda c: F.signum(c).cast("long"),
        "sin": F.sin, "cos": F.cos, "tan": F.tan, "cot": lambda c: 1.0 / F.tan(c),
        "asin": F.asin, "acos": F.acos, "atan": F.atan,
        "degrees": F.degrees, "radians": F.radians,
    }
    if name in simple:
        return simple[name](a(0))
    if name == "isempty":
        # string -> char_length, list/map -> size (TCK IsEmpty)
        t = spark_dtype(args[0], ctx)
        if _is(t, T.StringType):
            return F.length(a(0)) == 0
        return F.size(a(0)) == 0
    if name == "round":
        return F.round(a(0), int(plan_const(args[1], ctx)) if len(args) > 1 else 0)
    if name == "atan2":
        return F.atan2(a(0), a(1))
    if name == "haversin":
        return (1.0 - F.cos(a(0))) / 2.0
    if name == "e":
        return F.exp(F.lit(1.0))
    if name == "pi":
        return F.lit(3.141592653589793)
    if name == "rand":
        return F.rand()
    if name == "replace":
        return F.replace(a(0), a(1), a(2))
    if name == "substring":
        start = a(1) + 1
        if len(args) > 2:
            return F.substring(a(0), start, a(2))
        return F.substring(a(0), start, F.length(a(0)))
    if name == "left":
        return F.substring(a(0), 1, a(1))
    if name == "right":
        return F.substring(a(0), -a(1).cast("int"), a(1))
    if name == "split":
        # Cypher split's delimiter is a LITERAL string; F.split takes a
        # Java regex ('.' would match everything).  \Q...\E quotes the
        # whole delimiter; for computed delimiters the quoting is applied
        # to the value at runtime.
        d = plan_const(args[1], ctx)
        if isinstance(d, str):
            return F.split(a(0), "\\Q" + d + "\\E")
        return F.split(a(0), F.concat(F.lit("\\Q"), a(1), F.lit("\\E")))

    # --- lists ----------------------------------------------------------
    if name in ("nodes", "relationships"):
        # named-path accessors: path = struct<nodes, rels> (planner
        # _bind_path)
        t = spark_dtype(args[0], ctx)
        if not (_is(t, T.StructType) and
                set(t.fieldNames()) == {"nodes", "rels"}):
            raise NotImplementedError(f"{name}() expects a named path")
        return a(0).getField("nodes" if name == "nodes" else "rels")
    if name in ("size", "length"):
        t = spark_dtype(args[0], ctx)
        if _is(t, T.StructType) and set(t.fieldNames()) == {"nodes", "rels"}:
            if name == "size":
                # size() takes lists and strings; paths use length()
                # (TCK SemanticErrorAcceptance "Failing for size() on
                # paths")
                raise PlanError("size() expects a list or string, got a "
                                "path", code="InvalidArgumentType")
            # length(path) = number of relationships
            return F.size(a(0).getField("rels")).cast("long")
        if _is(t, T.NullType):
            return F.lit(None).cast("long")
        if _is(t, T.StringType):
            return F.length(a(0)).cast("long")
        if isinstance(args[0], (E.NodeVar,)) or (
                t is not None and not _is(t, T.ArrayType)):
            # size()/length() of a node or other non-collection is a
            # user type error (TCK SemanticErrorAcceptance)
            raise PlanError(f"{name}() expects a list, string or path, "
                            f"got {args[0]!r}",
                            code="InvalidArgumentType")
        return F.size(a(0)).cast("long")
    if name == "head":
        if _is(spark_dtype(args[0], ctx), T.NullType):
            return F.lit(None)
        return F.try_element_at(a(0), F.lit(1))
    if name == "last":
        if _is(spark_dtype(args[0], ctx), T.NullType):
            return F.lit(None)
        return F.try_element_at(a(0), F.lit(-1))
    if name == "tail":
        if _is(spark_dtype(args[0], ctx), T.NullType):
            return F.lit(None).cast("array<string>")
        c = a(0)
        return F.slice(c, 2, F.greatest(F.size(c) - 1, F.lit(0)))
    if name == "range":
        # empty list when the step points away from stop (Cypher), where
        # F.sequence raises "Illegal sequence boundaries"
        step = a(2) if len(args) > 2 else F.lit(1)
        lo, hi = a(0), a(1)
        ok = (hi - lo) * F.signum(step) >= 0
        return F.when(ok, F.sequence(lo, hi, step)) \
            .otherwise(F.array().cast("array<long>"))
    if name == "coalesce":
        return F.coalesce(*all_cols())
    if name == "min" and len(args) > 1:
        return F.least(*all_cols())
    if name == "max" and len(args) > 1:
        return F.greatest(*all_cols())

    # --- temporal constructors (struct-free: DateType/TimestampType) ----
    def _temporal_base(map_lit, m, _ctx):
        """Select-form base: {date: d} / {datetime: dt} component source."""
        for k in ("datetime", "localdatetime", "date"):
            if k in m:
                return m[k]
        return None

    _DATE_KEYS = {"year", "month", "day", "week", "dayofweek", "quarter",
                  "dayofquarter", "ordinalday", "date", "datetime",
                  "localdatetime"}
    _DT_KEYS = _DATE_KEYS | {"hour", "minute", "second", "millisecond",
                             "microsecond", "epochmillis", "epochseconds",
                             "time", "localtime"}

    def _check_temporal_keys(m, allowed, fn):
        for k in m:
            if k not in allowed:
                # unknown components (typos, nanosecond precision, time
                # zones) must raise, not silently drop
                raise ValueError(f"unsupported {fn}() component {k!r}")

    if name == "date":
        if not args:
            return F.current_date()
        if isinstance(args[0], E.MapLit):
            from .temporal import date_from_map
            m = {k.lower(): to_column(v, ctx) for k, v in args[0].items}
            _check_temporal_keys(m, _DATE_KEYS, "date")
            base = _temporal_base(args[0], m, ctx)
            if base is not None:
                # select form: date({date: d[, day: ...]}) — unmentioned
                # components come from the source temporal
                return F.make_date(
                    m.get("year", F.year(base)),
                    m.get("month", F.month(base)),
                    m.get("day", F.dayofmonth(base)))
            return date_from_map(m)
        d_v = plan_const(args[0], ctx)
        if isinstance(d_v, str):
            # all Cypher literal forms (week/quarter/ordinal/compact)
            # parse at plan time — the query carries a constant
            from .temporal import parse_date_string
            return F.lit(parse_date_string(d_v))
        if _is(spark_dtype(args[0], ctx), (T.TimestampType, T.DateType)):
            return a(0).cast("date")
        return F.to_date(a(0))
    if name in ("time", "localtime"):
        is_t = name == "time"
        out_t = TIME_TYPE if is_t else LOCALTIME_TYPE

        def mk(us, tz):
            return make_time(us, tz) if is_t else make_localtime(us)

        _TIME_KEYS = {"hour", "minute", "second", "millisecond",
                      "microsecond", "time", "localtime", "datetime",
                      "localdatetime"} | ({"timezone"} if is_t else set())
        if not args:
            now = F.current_timestamp()
            return mk(time_of_day_us(now, T.TimestampType()), F.lit(0))
        arg = args[0]
        if isinstance(arg, E.MapLit):
            from .temporal import parse_tz_offset
            m = {k.lower(): to_column(v, ctx) for k, v in arg.items}
            mexpr = {k.lower(): v for k, v in arg.items}
            _check_temporal_keys(m, _TIME_KEYS, name)
            tz = F.lit(0)
            if "timezone" in mexpr:
                tz_v = plan_const(mexpr["timezone"], ctx)
                if not isinstance(tz_v, str):
                    raise ValueError(f"{name}() timezone must be a string "
                                     f"literal")
                tz = F.lit(parse_tz_offset(tz_v))
            base = base_e = None
            for bk in ("time", "localtime", "datetime", "localdatetime"):
                if bk in m:
                    base, base_e = m[bk], mexpr[bk]
                    break
            if base is not None:
                # select form: unmentioned components come from the base;
                # an explicit second resets the fraction, sub-second
                # overrides replace it
                bt = spark_dtype(base_e, ctx)
                bus = time_of_day_us(base, bt)
                h = m.get("hour", F.floor(bus / 3_600_000_000))
                mi = m.get("minute", F.floor(bus / 60_000_000) % 60)
                sec = m.get("second", F.floor(bus / 1_000_000) % 60)
                if {"millisecond", "microsecond"} & set(m):
                    frac = m.get("millisecond", F.lit(0)).cast("long") \
                        * 1000 + m.get("microsecond", F.lit(0)).cast("long")
                elif "second" in m:
                    frac = F.lit(0)
                else:
                    frac = bus % 1_000_000
                if is_t and "timezone" not in mexpr:
                    tz = base.getField("tz_us") if is_time_type(bt) \
                        else F.lit(0)
                us = (h.cast("long") * 3_600_000_000
                      + mi.cast("long") * 60_000_000
                      + sec.cast("long") * 1_000_000 + frac)
                return F.when(base.isNull(), F.lit(None).cast(out_t)) \
                    .otherwise(mk(us, tz))
            frac = m.get("millisecond", F.lit(0)).cast("long") * 1000 \
                + m.get("microsecond", F.lit(0)).cast("long")
            us = (m.get("hour", F.lit(0)).cast("long") * 3_600_000_000
                  + m.get("minute", F.lit(0)).cast("long") * 60_000_000
                  + m.get("second", F.lit(0)).cast("long") * 1_000_000
                  + frac)
            return mk(us, tz)
        t_v = plan_const(arg, ctx)
        if t_v is None and isinstance(arg, (E.Lit, E.Param)):
            return F.lit(None).cast(out_t)    # time(null) -> null
        if isinstance(t_v, str):
            from .temporal import parse_time_string
            us_v, off = parse_time_string(t_v)
            if not is_t and off is not None:
                raise ValueError("localtime() string must not carry a "
                                 "timezone offset")
            return mk(F.lit(us_v), F.lit(off or 0))
        at = spark_dtype(arg, ctx)
        if is_time_type(at) or is_localtime_type(at) \
                or _is(at, (T.TimestampType, T.DateType)):
            # conversion between time kinds / time part of a datetime
            c = a(0)
            tz = c.getField("tz_us") if is_time_type(at) else F.lit(0)
            return F.when(c.isNull(), F.lit(None).cast(out_t)) \
                .otherwise(mk(time_of_day_us(c, at), tz))
        raise ValueError(f"cannot construct {name}() from this argument")
    if name in ("time.truncate", "localtime.truncate"):
        is_t = name.startswith("time")
        out_t = TIME_TYPE if is_t else LOCALTIME_TYPE
        unit = plan_const(args[0], ctx)
        if not isinstance(unit, str):
            raise ValueError(f"{name} unit must be a string literal")
        u = unit.lower()
        spans = {"day": _US_PER_DAY, "hour": 3_600_000_000,
                 "minute": 60_000_000, "second": 1_000_000,
                 "millisecond": 1000, "microsecond": 1}
        if u not in spans:
            raise ValueError(f"unsupported truncation unit {unit!r}")
        src = a(1)
        st = spark_dtype(args[1], ctx)
        us = time_of_day_us(src, st)
        us = us - us % F.lit(spans[u])
        if len(args) > 2 and isinstance(args[2], E.MapLit):
            ov = {k.lower(): to_column(v, ctx) for k, v in args[2].items}
            bad = set(ov) - {"hour", "minute", "second", "millisecond",
                             "microsecond"}
            if bad:
                raise ValueError(
                    f"unsupported truncate override component(s) {bad}")
            # independent overrides, like the datetime truncate family
            h = ov.get("hour", F.floor(us / 3_600_000_000))
            mi = ov.get("minute", F.floor(us / 60_000_000) % 60)
            sec = ov.get("second", F.floor(us / 1_000_000) % 60)
            frac = us % 1_000_000
            if {"millisecond", "microsecond"} & set(ov):
                frac = ov.get("millisecond", F.lit(0)).cast("long") * 1000 \
                    + ov.get("microsecond", F.lit(0)).cast("long")
            us = (h.cast("long") * 3_600_000_000
                  + mi.cast("long") * 60_000_000
                  + sec.cast("long") * 1_000_000 + frac)
        tz = src.getField("tz_us") if is_time_type(st) else F.lit(0)
        out = make_time(us, tz) if is_t else make_localtime(us)
        return F.when(src.isNull(), F.lit(None).cast(out_t)).otherwise(out)
    if name in ("datetime", "localdatetime"):
        if name == "datetime" and args and _zoned_datetime_call(expr, ctx):
            return _zoned_datetime(expr, ctx)
        if not args:
            return F.current_timestamp()
        arg = args[0]
        if isinstance(arg, E.MapLit):
            from .temporal import date_from_map
            m = {k.lower(): to_column(v, ctx) for k, v in arg.items}
            mexpr = {k.lower(): v for k, v in arg.items}
            _check_temporal_keys(m, _DT_KEYS, name)
            if "epochmillis" in m:
                return F.timestamp_millis(m["epochmillis"].cast("long"))
            if "epochseconds" in m:
                return F.timestamp_seconds(m["epochseconds"])
            tkey = "time" if "time" in m \
                else ("localtime" if "localtime" in m else None)
            if tkey is not None:
                # {date: d, time: t[, overrides]}: date part from the date
                # base / components, clock from the time base; explicit
                # second resets the fraction (select semantics)
                tt = spark_dtype(mexpr[tkey], ctx)
                tus = time_of_day_us(m[tkey], tt)
                base = _temporal_base(arg, m, ctx)
                if base is not None:
                    d = base.cast("date")
                elif {"week", "quarter", "ordinalday"} & set(m):
                    d = date_from_map(m)
                else:
                    d = F.make_date(m.get("year", F.lit(1)),
                                    m.get("month", F.lit(1)),
                                    m.get("day", F.lit(1)))
                h = m.get("hour", F.floor(tus / 3_600_000_000))
                mi = m.get("minute", F.floor(tus / 60_000_000) % 60)
                sec = m.get("second",
                            F.floor(tus / 1_000_000) % 60).cast("double")
                if {"millisecond", "microsecond"} & set(m):
                    sec = sec + \
                        m.get("microsecond", F.lit(0)).cast("double") / 1e6 \
                        + m.get("millisecond", F.lit(0)).cast("double") / 1e3
                elif "second" not in m:
                    sec = sec + (tus % 1_000_000).cast("double") / 1e6
                return F.make_timestamp(F.year(d), F.month(d),
                                        F.dayofmonth(d), h, mi, sec)
            sec = m.get("second", F.lit(0)).cast("double") + \
                m.get("microsecond", F.lit(0)).cast("double") / 1e6 + \
                m.get("millisecond", F.lit(0)).cast("double") / 1e3
            base = _temporal_base(arg, m, ctx)
            if base is not None:
                # select form: components default from the base temporal;
                # sub-second overrides keep the base's whole seconds, an
                # explicit second resets the fraction
                bts = base.cast("timestamp")
                sec = m.get("second", F.second(bts)).cast("double")
                if {"millisecond", "microsecond"} & set(m):
                    sec = sec + \
                        m.get("microsecond", F.lit(0)).cast("double") / 1e6 \
                        + m.get("millisecond", F.lit(0)).cast("double") / 1e3
                elif "second" not in m:
                    sec = sec + \
                        (F.unix_micros(bts) % 1_000_000).cast("double") / 1e6
                return F.make_timestamp(
                    m.get("year", F.year(bts)),
                    m.get("month", F.month(bts)),
                    m.get("day", F.dayofmonth(bts)),
                    m.get("hour", F.hour(bts)),
                    m.get("minute", F.minute(bts)), sec)
            if {"week", "quarter", "ordinalday"} & set(m):
                d = date_from_map(m)
                return F.make_timestamp(
                    F.year(d), F.month(d), F.dayofmonth(d),
                    m.get("hour", F.lit(0)), m.get("minute", F.lit(0)), sec)
            return F.make_timestamp(
                m.get("year", F.lit(1)), m.get("month", F.lit(1)),
                m.get("day", F.lit(1)), m.get("hour", F.lit(0)),
                m.get("minute", F.lit(0)), sec)
        ts_v = plan_const(arg, ctx)
        if isinstance(ts_v, str):
            from .temporal import parse_localdatetime_string
            return F.lit(parse_localdatetime_string(ts_v))
        if _is(spark_dtype(arg, ctx), (T.TimestampType, T.DateType)):
            return a(0).cast("timestamp")
        return F.to_timestamp(F.translate(a(0), "T", " "))
    if name in ("date.truncate", "datetime.truncate",
                "localdatetime.truncate"):
        # temporal truncation to a unit boundary (the reference's
        # TemporalUdfs truncate family); ISO weeks start Monday, which is
        # also Spark's date_trunc('week') anchor
        unit = plan_const(args[0], ctx)
        if not isinstance(unit, str):
            raise ValueError(f"{name} unit must be a string literal")
        u = unit.lower()
        src = a(1).cast("timestamp")
        if u in ("millennium", "century", "decade"):
            span = {"millennium": 1000, "century": 100, "decade": 10}[u]
            y = F.year(src)
            out = F.make_date(y - y % span, F.lit(1), F.lit(1)) \
                .cast("timestamp")
        elif u == "weekyear":
            # first day (Monday) of week 1 of the ISO week-based year
            wy = F.year(F.date_add(src.cast("date"), 3 - F.weekday(src)))
            jan4 = F.make_date(wy, F.lit(1), F.lit(4))
            out = F.date_sub(jan4, F.weekday(jan4)).cast("timestamp")
        elif u in ("year", "quarter", "month", "week", "day", "hour",
                   "minute", "second", "millisecond", "microsecond"):
            out = F.date_trunc(u, src)
        else:
            raise ValueError(f"unsupported truncation unit {unit!r}")
        if len(args) > 2 and isinstance(args[2], E.MapLit):
            # component overrides applied to the truncated value, e.g.
            # datetime.truncate('month', d, {day: 5})
            ov = {k.lower(): to_column(v, ctx) for k, v in args[2].items}
            bad = set(ov) - {"year", "month", "day", "hour", "minute",
                             "second", "millisecond", "microsecond",
                             "dayofweek"}
            if bad:
                raise ValueError(
                    f"unsupported truncate override component(s) {bad}")
            if "dayofweek" in ov:
                # only meaningful on a week boundary (Neo4j semantics):
                # shift the truncated Monday to the requested ISO weekday
                if u not in ("week", "weekyear"):
                    raise ValueError("dayOfWeek override requires week "
                                     "truncation")
                out = F.timestamp_add(
                    "DAY", (ov["dayofweek"].cast("int") - 1), out)
            # each field overrides independently: {microsecond: 42} keeps
            # the truncated value's whole seconds
            sec = ov.get("second", F.second(out)).cast("double")
            if {"millisecond", "microsecond"} & set(ov):
                sec = sec + \
                    ov.get("microsecond", F.lit(0)).cast("double") / 1e6 + \
                    ov.get("millisecond", F.lit(0)).cast("double") / 1e3
            out = F.make_timestamp(
                ov.get("year", F.year(out)), ov.get("month", F.month(out)),
                ov.get("day", F.dayofmonth(out)),
                ov.get("hour", F.hour(out)), ov.get("minute", F.minute(out)),
                sec)
        return out.cast("date") if name == "date.truncate" else out
    if name in ("duration.between", "duration.indays", "duration.inmonths",
                "duration.inseconds"):
        # TemporalTests.scala duration.between family.  Calendar-correct
        # decomposition: whole months first (anchored re-add, so Jan 31 ->
        # Feb 28 counts as one month), whole days of the remainder, then the
        # microsecond tail.
        def _between_op(i):
            # (local wall-clock ts, instant micros | None, (zone, tz_us) |
            # None).  A TIME/LOCALTIME operand anchors its instant on the
            # epoch day, so the decomposition yields pure clock components.
            t = spark_dtype(args[i], ctx)
            c = a(i)
            if is_time_type(t):
                inst = c.getField("time_us") - c.getField("tz_us")
                return F.timestamp_micros(inst), inst, None
            if is_localtime_type(t):
                return F.timestamp_micros(c.getField("localtime_us")), \
                    None, None
            if is_zoned_dt_type(t):
                # months/days count on the LOCAL calendar; the instant and
                # zone feed the DST-correct microsecond tail below
                ep = c.getField("epoch_us")
                return (F.timestamp_micros(ep + c.getField("tz_us")), ep,
                        (c.getField("zone"), c.getField("tz_us")))
            return c.cast("timestamp"), None, None

        (raw_a, inst_a, zi_a) = _between_op(0)
        (raw_b, inst_b, zi_b) = _between_op(1)
        both_zoned = zi_a is not None and zi_b is not None

        def _guard(dur_col):
            # null input propagates a NULL duration, not a struct of nulls
            # (which would render as a map instead of null)
            return F.when(raw_a.isNull() | raw_b.isNull(),
                          F.lit(None).cast(DURATION_TYPE)).otherwise(dur_col)

        # Cypher truncates toward zero with ALL components sharing the
        # span's sign: decompose |span| on the sorted pair, then negate
        # every component when b < a.
        neg = raw_b < raw_a
        ats = F.when(neg, raw_b).otherwise(raw_a)
        bts = F.when(neg, raw_a).otherwise(raw_b)
        sign = F.when(neg, F.lit(-1)).otherwise(F.lit(1)).cast("long")
        us_day = F.lit(86_400_000_000)
        if name == "duration.inseconds":
            if both_zoned:
                # elapsed (instant) seconds — on a DST day the wall-clock
                # difference is the wrong answer
                return _guard(make_duration(F.lit(0), F.lit(0),
                                            inst_b - inst_a))
            return _guard(make_duration(F.lit(0), F.lit(0),
                                        sign * (F.unix_micros(bts)
                                                - F.unix_micros(ats))))
        if name == "duration.indays":
            dd = F.floor((F.unix_micros(bts) - F.unix_micros(ats)) / us_day)
            return _guard(make_duration(F.lit(0), sign * dd.cast("long"),
                                        F.lit(0)))
        raw_mo = (F.year(bts) - F.year(ats)) * 12 + (F.month(bts) - F.month(ats))
        mo = F.when(F.timestamp_add("MONTH", raw_mo.cast("int"), ats) > bts,
                    raw_mo - 1).otherwise(raw_mo)
        if name == "duration.inmonths":
            return _guard(make_duration(sign * mo.cast("long"), F.lit(0),
                                        F.lit(0)))
        anchor = F.timestamp_add("MONTH", mo.cast("int"), ats)
        us = F.unix_micros(bts) - F.unix_micros(anchor)
        dd = F.floor(us / us_day)
        if both_zoned:
            # openCypher DST semantics (Neo4j DurationValue.between):
            # months and days count on the local calendar, then the lower
            # operand advanced by them — wall-preserving in ITS zone — is
            # re-anchored to an instant, and the tail is true elapsed
            # time.  ``to_utc_timestamp(ts, zone)`` is the JVM-side
            # zone-rules lookup (handles DST transitions); fixed-offset
            # datetimes (null zone) re-anchor with their stored offset.
            zone_lo = F.when(neg, zi_b[0]).otherwise(zi_a[0])
            tzus_lo = F.when(neg, zi_b[1]).otherwise(zi_a[1])
            inst_hi = F.when(neg, inst_a).otherwise(inst_b)
            anchor_full = F.timestamp_add("DAY", dd.cast("int"), anchor)
            anchor_inst = F.when(
                zone_lo.isNotNull(),
                F.unix_micros(F.to_utc_timestamp(anchor_full, zone_lo))
            ).otherwise(F.unix_micros(anchor_full) - tzus_lo)
            return _guard(make_duration(
                sign * mo.cast("long"), sign * dd.cast("long"),
                sign * (inst_hi - anchor_inst).cast("long")))
        return _guard(make_duration(
            sign * mo.cast("long"), sign * dd.cast("long"),
            sign * (us - dd.cast("long") * us_day).cast("long")))
    if name == "point":
        arg = args[0]
        if isinstance(arg, E.Lit) and arg.value is None:
            return F.lit(None).cast(POINT_TYPE)
        if not isinstance(arg, E.MapLit):
            raise PlanError("point() takes a map literal of coordinates",
                            code="InvalidArgumentType")
        items = {k.lower(): v for k, v in arg.items}
        crs_v = items.pop("crs", None)
        srid_v = items.pop("srid", None)
        want = None
        if crs_v is not None:
            want = plan_const(crs_v, ctx)
        elif srid_v is not None:
            sid = plan_const(srid_v, ctx)
            want = next((c for c, i in _CRS_SRID.items() if i == sid), None)
            if want is None:
                raise PlanError(f"unknown srid {sid!r}", code="InvalidSrid")
        if {"x", "y"} <= set(items):
            z = items.get("z")
            crs = want or ("cartesian-3d" if z is not None else "cartesian")
            if crs not in ("cartesian", "cartesian-3d"):
                raise PlanError(f"crs {crs!r} needs latitude/longitude",
                                code="InvalidCrs")
            return make_point(to_column(items["x"], ctx), to_column(items["y"], ctx),
                              to_column(z, ctx) if z is not None else None,
                              crs)
        if {"latitude", "longitude"} <= set(items):
            z = items.get("height")
            crs = want or ("wgs-84-3d" if z is not None else "wgs-84")
            if crs not in ("wgs-84", "wgs-84-3d"):
                raise PlanError(f"crs {crs!r} needs x/y", code="InvalidCrs")
            return make_point(to_column(items["longitude"], ctx),
                              to_column(items["latitude"], ctx),
                              to_column(z, ctx) if z is not None else None,
                              crs)
        raise PlanError(
            "point() needs {x, y[, z]} or {latitude, longitude[, height]}",
            code="InvalidArgumentValue")
    if name in ("distance", "point.distance"):
        ta, tb = spark_dtype(args[0], ctx), spark_dtype(args[1], ctx)
        for t in (ta, tb):
            if t is not None and not is_point_type(t) \
                    and not isinstance(t, T.NullType):
                raise PlanError("distance() expects two points",
                                code="InvalidArgumentType")
        return point_distance(a(0).cast(POINT_TYPE), a(1).cast(POINT_TYPE))
    if name == "duration":
        arg = args[0]
        dur_v = plan_const(arg, ctx)
        if dur_v is None:
            # a plan-time-constant null (plan_const uses a distinct
            # sentinel for "not constant"): duration(null) -> null
            return F.lit(None).cast(DURATION_TYPE)
        if isinstance(dur_v, str):
            mo, dd, us = parse_iso_duration(dur_v)
            return make_duration(F.lit(mo), F.lit(dd), F.lit(us))
        if isinstance(arg, E.MapLit):
            parts = {"months": F.lit(0), "days": F.lit(0),
                     "microseconds": F.lit(0)}
            for k, v in arg.items:
                kl = k.lower()
                if kl not in _DURATION_MAP_KEYS:
                    raise ValueError(f"unknown duration component {k!r}")
                field, factor = _DURATION_MAP_KEYS[kl]
                vc = to_column(v, ctx)
                if _is(spark_dtype(v, ctx), (T.DoubleType, T.FloatType)):
                    # Cypher allows fractional components; a day-grain
                    # fraction cascades into the microsecond field
                    # ({days: 1.5} = 1 day + 12h), time-grain fractions
                    # round to whole microseconds.
                    if field == "days":
                        whole = F.floor(vc).cast("long")
                        parts["days"] = parts["days"] + whole * F.lit(factor)
                        parts["microseconds"] = parts["microseconds"] + \
                            F.round((vc - whole) * factor * _US_PER_DAY) \
                            .cast("long")
                        continue
                    if field == "microseconds":
                        parts[field] = parts[field] + \
                            F.round(vc * factor).cast("long")
                        continue
                # long arithmetic: int32 literals overflow at
                # minutes >= ~36 (35.8 * 60_000_000 > 2^31)
                parts[field] = parts[field] + (
                    vc.cast("long") * F.lit(factor).cast("long"))
            return make_duration(parts["months"], parts["days"],
                                 parts["microseconds"])
        raise ValueError("duration() takes an ISO-8601 string literal or a "
                         "map of components")

    if name in E.AGG_FUNCS:
        raise PlanError(f"aggregate {name}() used outside aggregation "
                        "context", code="InvalidAggregation")

    raise PlanError(f"unknown function {name}()",
                    code="UnknownFunction")


# ---------------------------------------------------------------------------
# Aggregators (SURVEY §2.6; SparkSQLExprMapper.scala:426-469)
# ---------------------------------------------------------------------------

def compile_aggregator(expr: E.Expr, ctx: ExprContext) -> Column:
    """Compile an aggregate expression to an (unaliased) aggregating Column."""
    if isinstance(expr, E.CountStar):
        return F.count(F.lit(1))
    if not isinstance(expr, E.FuncCall) or expr.name not in E.AGG_FUNCS:
        raise ValueError(f"not an aggregator: {expr!r}")
    if any(E.is_aggregation(a_) for a_ in expr.args):
        # TCK NestedAggregation: count(count(*)) etc. — detected here so
        # the inner aggregate reports nesting, not "outside context"
        raise PlanError(f"aggregate {expr.name}() contains a nested "
                        "aggregation", code="NestedAggregation")

    def _nondet(e):
        if isinstance(e, E.FuncCall) and e.name == "rand":
            return True
        return any(_nondet(c) for c in e.children())

    if any(_nondet(a_) for a_ in expr.args):
        # TCK SyntaxErrorAcceptance: rand() inside an aggregation
        raise PlanError(f"non-deterministic rand() inside {expr.name}()",
                        code="NonConstantExpression")
    arg = to_column(expr.args[0], ctx)
    n = expr.name
    # Duration aggregates = component-wise column aggregation, no UDAF
    # (the reference needed TemporalUdafs.scala:39-107).
    if n in ("sum", "avg", "min", "max") and \
            is_duration_type(spark_dtype(expr.args[0], ctx)):
        mo, dd, us = (arg.getField("months"), arg.getField("days"),
                      arg.getField("microseconds"))
        if n == "sum":
            # sum of no durations = zero duration (reference DurationSum
            # initializes its buffer to interval 0)
            z = F.lit(0).cast("long")
            return make_duration(F.coalesce(F.sum(mo), z),
                                 F.coalesce(F.sum(dd), z),
                                 F.coalesce(F.sum(us), z))
        if n == "avg":
            return make_duration(F.avg(mo), F.avg(dd), F.avg(us))
        est = duration_estimate_us(arg)
        return F.min_by(arg, est) if n == "min" else F.max_by(arg, est)
    if n == "count":
        return F.count_distinct(arg) if expr.distinct else F.count(arg)
    if n == "sum":
        # openCypher: sum over zero values (empty group / all nulls) is 0,
        # not null (TCK Aggregation; Spark's SUM returns null there).
        # coalesce with an int literal: Spark coerces 0 up to the sum type.
        out = F.sum_distinct(arg) if expr.distinct else F.sum(arg)
        if isinstance(spark_dtype(expr.args[0], ctx), T.NullType):
            # statically-null input: Spark types SUM(NULL) as double;
            # the TCK zero is an INTEGER
            return F.coalesce(out.cast("long"), F.lit(0).cast("long"))
        return F.coalesce(out, F.lit(0))
    if n == "avg":
        return F.avg(arg)
    if n == "min":
        return F.min(arg)
    if n == "max":
        return F.max(arg)
    if n == "collect":
        out = F.collect_set(arg) if expr.distinct else F.collect_list(arg)
        return out
    if n == "stdev":
        return F.stddev_samp(arg)
    if n == "stdevp":
        return F.stddev_pop(arg)
    if n in ("percentilecont", "percentiledisc"):
        pv = const_number(expr.args[1], ctx)
        if isinstance(pv, (int, float)) and not isinstance(pv, bool) \
                and not 0.0 <= pv <= 1.0:
            # TCK FunctionsAcceptance "percentileCont()/percentileDisc()
            # failing on bad arguments": percentile must be in [0, 1]
            raise PlanError(f"percentile must be between 0.0 and 1.0, "
                            f"got {pv}", code="NumberOutOfRange")
    if n == "percentilecont":
        # Exact interpolated percentile — built-in since Spark 3.5
        # (the reference needed an O(group)-memory UDAF: PercentileUdafs.scala:41).
        return F.percentile(arg, to_column(expr.args[1], ctx))
    if n == "percentiledisc":
        # SQL-standard exact discrete percentile: smallest value whose
        # cumulative distribution >= p, i.e. sorted[ceil(p*n)] (1-based).
        # The planner intercepts percentileDisc and compiles a two-pass
        # rank plan (Planner._percentile_disc_table) — O(1) memory per
        # group instead of collect_list's O(group).  Reaching this branch
        # means an unsupported context (e.g. percentileDisc nested inside
        # another aggregate).
        raise ValueError("percentileDisc is planned as a rank join; "
                         "unsupported aggregation context")
    raise NotImplementedError(f"aggregator {n}")
