"""Query → DataFrame compiler.

This replaces the reference's remote SQL generation boundary
(``/root/reference/python/hsfs/core/query_constructor_api.py:23-31`` →
server-built SQL strings in ``constructor/fs_query.py:26-62``) with a
local, declarative compile to DataFrame operations. Catalyst then does
predicate pushdown, column pruning, join strategy selection and AQE —
nothing here hand-schedules physical execution.

Semantics compiled (parity ``constructor/query.py``):
  * per-feature-group source binding, with time-travel bounds
  * join chain with explicit / inferred (pk-intersection) keys,
    USING-style key merge when the key names match on both sides
  * right-side ``prefix`` renaming (``constructor/join.py:43,51``)
  * projection pruning before each join (keeps only selected features,
    join keys, and filter-referenced columns — so Catalyst's pruning
    reaches the scans and unrelated name collisions can't poison a join)
  * ambiguity detection (``constructor/query.py:661-752``)
  * filters applied as one conjunction over the joined result (WHERE
    semantics — ``constructor/query.py:775-785``); filters of semi/anti
    sub-queries are applied to the right side BEFORE the join, since
    their columns don't survive
  * final projection in declaration order
"""

from __future__ import annotations

from typing import Dict, List, Optional, Set, Tuple

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..constructor.join import JoinType
from ..feature import autofix_feature_name


def _normalize_columns(df: DataFrame) -> DataFrame:
    """Sanitize incoming column names (parity ``engine/spark.py:302-338``)."""
    renames = {c: autofix_feature_name(c) for c in df.columns}
    if all(k == v for k, v in renames.items()):
        return df
    return df.select([F.col("`" + c.replace("`", "``") + "`").alias(n)
                      for c, n in renames.items()])


def _join_keys(q, join) -> Tuple[List[str], List[str]]:
    """Resolve one join's key lists: explicit, or the maximal matching
    subset of the two sides' primary keys (constructor/query.py:246-249)."""
    fg = q.left_feature_group
    if join.on:
        keys = [autofix_feature_name(k) for k in join.on]
        return keys, keys
    if join.left_on:
        return (
            [autofix_feature_name(k) for k in join.left_on],
            [autofix_feature_name(k) for k in join.right_on],
        )
    if join.join_type == JoinType.CROSS:
        return [], []
    rpk = set(join.query.left_feature_group.primary_key)
    keys = [k for k in fg.primary_key if k in rpk]
    if not keys:
        raise ValueError(
            f"No join keys: primary keys of {fg.name!r} and "
            f"{join.query.left_feature_group.name!r} share no names; "
            "pass on= or left_on=/right_on="
        )
    return keys, keys


def _compile_node(
    q,
    spark: SparkSession,
    online: bool,
    filter_refs: Set[Tuple[int, str]],
    extra_keep: Tuple[str, ...] = (),
    skip_filters: bool = False,
):
    """Compile one Query node.

    Returns ``(df, selected_outnames, colmap, pending)`` where ``colmap``
    maps ``(id(feature_group), feature_name) -> column name in df`` and
    ``pending`` is the list of Logic trees still to be applied at the
    root (semi/anti sub-query filters are consumed inline).
    """
    fg = q.left_feature_group
    # pushdown HINT: when this node's own filter references ONLY this
    # FG's features, hand it to the source — Iceberg prunes manifests
    # / data files on it and SQL sources emit WHERE text (reference
    # parity: iceberg-spark planFiles / JDBC pushdown). The exact
    # predicate is STILL applied at the plan root below, so sources
    # that ignore the hint lose nothing but I/O.
    flt_hint = None
    # never push when the caller will NOT apply the root predicate
    # (skip_filters preview contract) or when latest-per-key resolution
    # runs first (online): pre-filtering the source would resurrect
    # superseded versions / filter the preview sample
    if not skip_filters and not online and q._filter is not None:
        try:
            refs = q._filter.referenced_features()
        except Exception:
            refs = None
        # default-valued features are excluded: the root predicate
        # evaluates coalesce(col, default) while every pushed evaluator
        # (source where, SQL WHERE, file pruning) sees the raw column —
        # a NULL that coalesces into a match would be dropped at the
        # source
        if refs and all(
            f.feature_group is fg and f.default_value is None
            for f in refs
        ):
            flt_hint = q._filter
    # projection HINT: the columns this node can possibly keep from its
    # source — selected features, keys a parent join needs, this node's
    # own join keys, and filter-referenced features of this FG. File
    # sources ignore it (Catalyst prunes columns into the scan); SQL
    # sources project DATABASE-side so wide tables don't ship unused
    # columns. Names the source cannot resolve are simply dropped from
    # the pushed projection (a default-valued feature may legitimately
    # be absent), never an error.
    cols_hint: Optional[List[str]] = None
    if not skip_filters:
        cols_hint = []
        for c in (
            [f.name for f in q.left_features]
            + list(extra_keep)
            + [k for j in q.joins for k in _join_keys(q, j)[0]]
            + [f.name for f in fg.features if (id(fg), f.name) in filter_refs]
            # identity/ordering columns stay readable even when
            # unselected: online latest-per-key resolution and
            # downstream tooling key on them
            + list(fg.primary_key)
            + list(getattr(fg, "partition_key", []) or [])
            + ([fg.event_time] if fg.event_time else [])
            + ([getattr(fg, "precombine_key", None)]
               if getattr(fg, "precombine_key", None) else [])
        ):
            if c not in cols_hint:
                cols_hint.append(c)
    df = _normalize_columns(
        fg.read_source(
            spark, q.start_time, q.end_time,
            filters=flt_hint, columns=cols_hint,
        )
    )
    if online:
        df = _latest_per_key(df, fg)

    colmap = {(id(fg), f.name): f.name for f in fg.features if f.name in df.columns}
    sel = [f.name for f in q.left_features]
    # pending filters are SCOPED: each carries the column map of the
    # sub-query it was attached to, so a self-join's two sides resolve
    # the same Feature to their own columns (the reference gets this via
    # per-alias SQL scoping, constructor/query.py:698-752)
    pending: List = []

    # columns this node's own frame must keep: selected + join keys
    # (this node's left keys, and keys a parent join needs from us) +
    # filter-referenced features of this FG. A left key not present in
    # this source may be produced by one of this node's own joins —
    # validated at join time, so only keys present here are kept.
    own_keys = [k for j in q.joins for k in _join_keys(q, j)[0]]
    own_filter_cols = [
        name
        for (fgid, fname), name in colmap.items()
        if (fgid, fname) in filter_refs
    ]
    # default values (parity feature.py:200-207, feature_group.py:853):
    # a feature appended after data was written is absent from old
    # commits — materialize it as its default; NULLs in present columns
    # also fall back to the default
    for feat in q.left_features:
        if feat.default_value is None:
            continue
        default = F.lit(feat.default_value)
        if feat.type is not None:
            default = default.cast(feat.type)
        if feat.name not in df.columns:
            df = df.withColumn(feat.name, default)
        else:
            df = df.withColumn(feat.name, F.coalesce(F.col(feat.name), default))

    missing_sel = [c for c in sel if c not in df.columns]
    if missing_sel:
        raise KeyError(
            f"Columns {missing_sel} not present in source of {fg.name!r}"
        )
    missing_extra = [c for c in extra_keep if c not in df.columns]
    if missing_extra:
        raise KeyError(
            f"Join key(s) {missing_extra} not present in {fg.name!r}"
        )
    keep = []
    for c in sel + list(extra_keep) + own_filter_cols:
        if c not in keep:
            keep.append(c)
    for c in own_keys:
        if c in df.columns and c not in keep:
            keep.append(c)
    df = df.select(*keep)
    colmap = {k: v for k, v in colmap.items() if v in keep}

    if q._filter is not None:
        pending.append((q._filter, colmap))

    for join in q.joins:
        how = join.join_type
        lkeys, rkeys = _join_keys(q, join)
        rdf, rsel, rcolmap, rpending = _compile_node(
            join.query, spark, online, filter_refs,
            extra_keep=tuple(rkeys), skip_filters=skip_filters,
        )
        using = bool(lkeys) and lkeys == rkeys
        absent = [k for k in lkeys if k not in df.columns]
        if absent:
            raise KeyError(
                f"Left join key(s) {absent} not available when joining "
                f"{join.query.left_feature_group.name!r}; select them or "
                "order joins so the producing join comes first"
            )

        if how in (JoinType.LEFT_SEMI, JoinType.LEFT_ANTI):
            # right-side filters can't apply post-join; consume them now
            for logic, scope in rpending:
                rdf = rdf.where(logic.to_column(_make_resolver(scope)))
            rdf = rdf.select(*[F.col(k) for k in rkeys])
            if using:
                df = df.join(rdf, on=list(rkeys), how=how)
            else:
                df = df.join(rdf, on=_eq_cond(lkeys, rkeys), how=how)
            continue

        # prefix rename on the right (parity join.py:43,51); USING keys
        # keep their name so Spark merges them
        ren: Dict[str, str] = {}
        for c in rdf.columns:
            if using and c in rkeys:
                ren[c] = c
            else:
                ren[c] = (join.prefix + c) if join.prefix else c

        # collision handling: a collision on a USER-SELECTED column is an
        # ambiguity error; a filter-only column is aliased internally
        merge_keys = {k for k in rkeys} if using else set()
        left_cols = set(df.columns)
        tmp_i = 0
        for c in list(ren):
            n = ren[c]
            if n in left_cols and (not using or n not in merge_keys):
                if c in rsel:
                    raise ValueError(
                        f"Ambiguous column {n!r} on both sides of join with "
                        f"{join.query.left_feature_group.name!r}; use prefix="
                    )
                ren[c] = f"__j{id(join) % 10007}_{tmp_i}_{n}"
                tmp_i += 1

        if any(k != v for k, v in ren.items()):
            rdf = rdf.select([F.col(c).alias(n) for c, n in ren.items()])
        rkeys = [ren[k] for k in rkeys]
        rsel = [ren[s] for s in rsel]
        rcolmap = {k: ren[v] for k, v in rcolmap.items()}
        for logic, scope in rpending:
            pending.append((logic, {k: ren.get(v, v) for k, v in scope.items()}))

        if how == JoinType.CROSS:
            df = df.crossJoin(rdf)
        elif using:
            df = df.join(rdf, on=list(rkeys), how=how)
        else:
            df = df.join(rdf, on=_eq_cond(lkeys, rkeys), how=how)

        sel.extend(rsel)
        for key, v in rcolmap.items():
            if v in df.columns and key not in colmap:
                colmap[key] = v

    return df, sel, colmap, pending


def _eq_cond(lkeys: List[str], rkeys: List[str]) -> Column:
    cond = None
    for l, r in zip(lkeys, rkeys):
        c = F.col(l) == F.col(r)
        cond = c if cond is None else (cond & c)
    return cond


def _latest_per_key(df: DataFrame, fg) -> DataFrame:
    """Online view: newest row per primary key (parity of the online
    store's upsert semantics, SURVEY §2.5 / ``core/hudi_engine.py:141-149``)."""
    from ..operators.dedup import latest_per_key

    if not fg.primary_key or not fg.event_time:
        return df
    pre = getattr(fg, "precombine_key", None)
    return latest_per_key(
        df, fg.primary_key, order_by=[fg.event_time],
        tie_breakers=[pre] if pre else [],
    )


def _make_resolver(colmap):
    def resolve(feature) -> Column:
        fg = feature.feature_group
        if fg is not None:
            name = colmap.get((id(fg), feature.name))
            if name is not None:
                return F.col(name)
        hits = {v for (fgid, fname), v in colmap.items() if fname == feature.name}
        if len(hits) == 1:
            return F.col(next(iter(hits)))
        if len(hits) > 1:
            raise ValueError(f"Ambiguous filter feature {feature.name!r}")
        raise KeyError(f"Filter feature {feature.name!r} not found in plan")

    return resolve


def compile_query(
    q, spark: SparkSession, online: bool = False, skip_filters: bool = False,
) -> DataFrame:
    """``skip_filters=True`` compiles the plan WITHOUT the query's
    WHERE conditions — the online-preview contract: the reference's
    preview statement strips everything from `` WHERE `` and appends
    LIMIT (``core/online_store_sql_engine.py:464-465``). Sources then
    get no filter or projection hints either."""
    logic_all = q.filters
    filter_refs = (
        {
            (id(f.feature_group), f.name)
            for f in logic_all.referenced_features()
            if f.feature_group is not None
        }
        if logic_all is not None
        else set()
    )
    df, sel, colmap, pending = _compile_node(
        q, spark, online, filter_refs, skip_filters=skip_filters,
    )

    cond = None
    if not skip_filters:
        for logic, scope in pending:
            c = logic.to_column(_make_resolver(scope))
            cond = c if cond is None else (cond & c)
    if cond is not None:
        df = df.where(cond)

    # final projection, declaration order, first occurrence wins
    out, seen = [], set()
    for name in sel:
        if name not in seen:
            seen.add(name)
            out.append(name)
    return df.select(*out)


def compile_query_online(q, spark: SparkSession) -> DataFrame:
    """Online read: every feature group collapsed to latest-per-key
    before the join/filter plan (parity ``constructor/query.py:135-207``
    ``online=True`` path)."""
    return compile_query(q, spark, online=True)
