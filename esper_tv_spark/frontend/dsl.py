"""Safe query DSL — the web/REPL front-end.

The reference's search endpoint `exec()`s user-posted Python server-side
(/root/reference/app/query/views.py:56-66; the README itself flags the RCE
at README.md:59). This replaces it: a JSON plan spec compiled to DataFrame
operations through a whitelist. No eval, no attribute access, no
user-supplied code objects — the worst a spec can do is run a slow query.

Spec shape (all keys optional except "table"):

    {"table": "lineitem",
     "join": [{"table": "orders", "on": [["l_orderkey", "o_orderkey"]],
               "how": "inner", "broadcast": true}],
     "derive": {"revenue": {"op": "*", "args": ["l_extendedprice",
                 {"op": "-", "args": [{"lit": 1.0}, "l_discount"]}]}},
     "where": [["l_quantity", ">", {"lit": 10}]],
     "group_by": ["l_returnflag"],
     "agg": {"n": {"fn": "count"}, "rev": {"fn": "sum", "col": "revenue"}},
     "order_by": [["rev", "desc"]],
     "limit": 10}

Expressions are column names (str), {"lit": value}, or {"op"/"fn": ...,
"args": [...]} nodes drawn from the whitelists below — the same scalar
families as SURVEY §2.8.
"""

from __future__ import annotations

import operator
from typing import Any

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

_BINOPS = {
    "+": operator.add,
    "-": operator.sub,
    "*": operator.mul,
    "/": operator.truediv,
    "%": operator.mod,
    "==": operator.eq,
    "!=": operator.ne,
    ">": operator.gt,
    ">=": operator.ge,
    "<": operator.lt,
    "<=": operator.le,
    "and": operator.and_,
    "or": operator.or_,
}

_FUNCS = {
    "lower": F.lower, "upper": F.upper, "length": F.length, "trim": F.trim,
    "abs": F.abs, "floor": F.floor, "ceil": F.ceil, "sqrt": F.sqrt,
    "year": F.year, "month": F.month, "hour": F.hour, "dayofweek": F.dayofweek,
    "to_date": F.to_date, "not": lambda c: ~c, "isnull": F.isnull,
    "coalesce": F.coalesce, "greatest": F.greatest, "least": F.least,
    "concat": F.concat, "round": F.round, "split_part": lambda c, i: F.split(c, " ").getItem(i),
    "contains": lambda c, s: c.contains(s), "startswith": lambda c, s: c.startswith(s),
}

_AGGS = {
    # count with no col = count(*); with a col = non-null count (SQL semantics)
    "count": lambda col: F.count(col) if col is not None else F.count(F.lit(1)),
    "sum": F.sum, "avg": F.avg, "min": F.min, "max": F.max,
    "count_distinct": F.countDistinct,
}

_JOINS = {"inner", "left", "left_outer", "left_semi", "left_anti", "right", "full"}

_WINDOW_FNS = {
    "row_number": lambda col: F.row_number(),
    "rank": lambda col: F.rank(),
    "dense_rank": lambda col: F.dense_rank(),
    "percent_rank": lambda col: F.percent_rank(),
    "lag": F.lag,
    "lead": F.lead,
    "count": lambda col: F.count(col) if col is not None else F.count(F.lit(1)),
    "sum": F.sum,
    "min": F.min,
    "max": F.max,
    "avg": F.avg,
}

# window fns that require a 'col' in their spec (F.lag(None) would surface
# as an opaque py4j error instead of a DSLError)
_WINDOW_FNS_NEED_COL = {"lag", "lead", "sum", "min", "max", "avg"}


class DSLError(ValueError):
    pass


def compile_expr(node: Any) -> Column:
    """Compile an expression node to a Column through the whitelist."""
    if isinstance(node, str):
        return F.col(node)
    if isinstance(node, dict):
        if "lit" in node:
            v = node["lit"]
            if not isinstance(v, (int, float, str, bool, type(None))):
                raise DSLError(f"literal type not allowed: {type(v).__name__}")
            return F.lit(v)
        if "op" in node:
            op = node["op"]
            if op not in _BINOPS:
                raise DSLError(f"unknown op: {op!r}")
            args = [compile_expr(a) for a in node.get("args", [])]
            if len(args) != 2:
                raise DSLError(f"op {op!r} needs 2 args")
            return _BINOPS[op](args[0], args[1])
        if "fn" in node:
            fn = node["fn"]
            if fn not in _FUNCS:
                raise DSLError(f"unknown function: {fn!r}")
            args = [
                a["lit"] if isinstance(a, dict) and "lit" in a and fn in ("round", "split_part", "contains", "startswith")
                else compile_expr(a)
                for a in node.get("args", [])
            ]
            return _FUNCS[fn](*args)
        if "in" in node:
            vals = node["in"]
            if not isinstance(vals, list):
                raise DSLError("'in' needs a list")
            return compile_expr(node["col"]).isin(vals)
    raise DSLError(f"bad expression node: {node!r}")


def run_query(
    catalog: dict[str, DataFrame],
    spec: dict[str, Any],
    index_catalog: dict[str, str] | None = None,
) -> DataFrame:
    """Compile + run a spec against a table catalog. Raises DSLError on any
    construct outside the whitelist.

    `index_catalog` maps SERVER-chosen names to persisted ANN index paths
    (ivf / ivfpq / ivfsq stores) for the `ann_probe` similarity verb.  A
    spec can only reference an index by name — never a filesystem path —
    so the worst a spec can do remains running a slow query (a raw path
    here would be an arbitrary-parquet-read primitive)."""
    if not isinstance(spec, dict) or "table" not in spec:
        raise DSLError("spec must be a dict with a 'table'")
    if spec["table"] not in catalog:
        raise DSLError(f"unknown table {spec['table']!r}")
    df = catalog[spec["table"]]

    for j in spec.get("join", []):
        if j.get("table") not in catalog:
            raise DSLError(f"unknown join table {j.get('table')!r}")
        how = j.get("how", "inner")
        if how not in _JOINS:
            raise DSLError(f"join type not allowed: {how!r}")
        right = catalog[j["table"]]
        if j.get("broadcast"):
            right = F.broadcast(right)
        cond = None
        for pair in j.get("on", []):
            lk, rk = pair
            c = df[lk] == right[rk]
            cond = c if cond is None else (cond & c)
        if cond is None:
            raise DSLError("join needs 'on' pairs")
        df = df.join(right, cond, how)

    for name, expr in spec.get("derive", {}).items():
        df = df.withColumn(name, compile_expr(expr))

    for cond in spec.get("where", []):
        if isinstance(cond, list) and len(cond) == 3:
            lhs, op, rhs = cond
            df = df.where(compile_expr({"op": op, "args": [lhs, rhs]}))
        else:
            df = df.where(compile_expr(cond))

    # interval-algebra stage: the rekall verbs from the safe surface (the
    # reference's notebook entry point B, reachable from the web UI without
    # arbitrary Python). Each step is whitelisted with plain-value params;
    # binary ops take their other side from the catalog.
    for ivs in spec.get("intervals", []):
        from esper_tv_spark.operators import intervals as iv

        op = ivs.get("op")
        keys = ivs.get("keys", [])
        start = ivs.get("start", "start")
        end = ivs.get("end", "end")
        if not isinstance(keys, list) or not all(isinstance(k, str) for k in keys):
            raise DSLError("intervals step needs a 'keys' list of column names")
        if op == "coalesce":
            df = iv.coalesce(df, keys, start, end, gap=ivs.get("gap", 0))
        elif op == "dilate":
            df = iv.dilate(df, ivs.get("amount", 0), start, end)
        elif op == "filter_length":
            df = iv.filter_length(
                df, ivs.get("min_length", 0), ivs.get("max_length"), start, end
            )
        elif op in ("overlap_join", "minus", "overlap_measure"):
            other = ivs.get("table")
            if other not in catalog:
                raise DSLError(f"unknown intervals table {other!r}")
            band = ivs.get("band")
            if band is not None and band != "auto" and not isinstance(band, int):
                raise DSLError("band must be an int or 'auto'")
            if op == "overlap_join":
                df = iv.overlap_join(
                    df, catalog[other], keys, start, end,
                    clip=bool(ivs.get("clip", True)), band=band,
                )
            elif op == "minus":
                df = iv.minus(df, catalog[other], keys, start, end)
            else:
                df = iv.overlap_measure(
                    df, catalog[other], keys, start, end,
                    out_col=ivs.get("as", "overlap_total"), band=band,
                )
        else:
            raise DSLError(f"intervals op not allowed: {op!r}")

    # similarity stage: the SURVEY §2.10 embedding verbs from the safe
    # surface (reference face_embeddings.py knn/dist reachable only from
    # Python notebooks; here a whitelisted spec). Query vectors are plain
    # JSON number lists — validated, then compiled to literal arrays
    # (broadcast into the expression, no driver loop).
    sim = spec.get("similarity")
    if sim is not None:
        from esper_tv_spark.operators import similarity as sim_ops

        def _vec(v: Any, what: str) -> list[float]:
            if (
                not isinstance(v, list)
                or not v
                or not all(isinstance(x, (int, float)) and not isinstance(x, bool) for x in v)
            ):
                raise DSLError(f"{what} must be a non-empty list of numbers")
            return [float(x) for x in v]

        def _int(v) -> bool:
            # bool is an int subclass: {"k": true} must be a spec error,
            # not a silent top-1
            return isinstance(v, int) and not isinstance(v, bool)

        op = sim.get("op")
        id_col = sim.get("id_col", "vec_id")
        vec_col = sim.get("vec_col", "embedding")
        if not isinstance(id_col, str) or not isinstance(vec_col, str):
            raise DSLError("id_col/vec_col must be column names")
        if op == "knn":
            k = sim.get("k")
            if not _int(k) or k <= 0:
                raise DSLError("knn needs a positive int 'k'")
            if "query" in sim:
                q = _vec(sim["query"], "'query'")
            elif "query_id" in sim:
                qid = sim["query_id"]
                if not _int(qid):
                    raise DSLError("'query_id' must be an int")
                row = df.where(F.col(id_col) == F.lit(qid)).select(vec_col).head()
                if row is None:
                    raise DSLError(f"query_id {qid} not found")
                q = [float(x) for x in row[0]]
            else:
                raise DSLError("knn needs 'query' or 'query_id'")
            df = sim_ops.cosine_topk(df, q, k, id_col=id_col, vec_col=vec_col)
        elif op == "dist_to_targets":
            targets = sim.get("targets")
            if not isinstance(targets, list) or not targets:
                raise DSLError("dist_to_targets needs a non-empty 'targets' list")
            df = sim_ops.dist_to_targets(
                df, [_vec(t, "each target") for t in targets], id_col=id_col, vec_col=vec_col
            )
        elif op == "hybrid":
            # hybrid retrieval (q109's shape) from the safe surface: the
            # staged table is the DOCUMENT corpus (BM25 side); the
            # vector side probes a catalog-named persisted IVF index
            # with a LITERAL query vector.  Terms and the vector are
            # DATA; the index is name-keyed — same stance as ann_probe.
            name = sim.get("index")
            if not isinstance(name, str) or name not in (index_catalog or {}):
                raise DSLError(f"unknown index {name!r}")
            hpath = index_catalog[name]
            # hybrid's exact rerank needs raw-vector posting lists: an
            # ivf store (cells/ + centroids/, no meta.json)
            try:
                sim_ops._open_index(hpath, "ivf")
            except ValueError as e:
                raise DSLError(
                    f"hybrid needs a plain ivf store; index {name!r} is not one"
                ) from e
            terms = sim.get("terms")
            if (
                not isinstance(terms, list)
                or not terms
                or not all(isinstance(t, str) and t for t in terms)
            ):
                raise DSLError("hybrid needs a non-empty 'terms' list of strings")
            hq = _vec(sim.get("query"), "'query'")
            hk = sim.get("k")
            if not _int(hk) or hk <= 0:
                raise DSLError("hybrid needs a positive int 'k'")
            k_cand = sim.get("k_cand", 25)
            n_probe = sim.get("n_probe", 3)
            rrf_k = sim.get("rrf_k", 60)
            for what, v in (("k_cand", k_cand), ("n_probe", n_probe), ("rrf_k", rrf_k)):
                if not _int(v) or v <= 0:
                    raise DSLError(f"'{what}' must be a positive int")
            weights = sim.get("weights")
            if weights is not None and (
                not isinstance(weights, list)
                or len(weights) != 2
                or not all(
                    isinstance(w, (int, float))
                    and not isinstance(w, bool)
                    and w > 0
                    for w in weights
                )
            ):
                raise DSLError("'weights' must be two positive numbers [lexical, vector]")
            method = sim.get("method", "rrf")
            if method not in ("rrf", "interp"):
                raise DSLError(f"hybrid method must be 'rrf' or 'interp', got {method!r}")
            if method == "interp" and weights is None:
                raise DSLError("hybrid method 'interp' needs 'weights'")
            from esper_tv_spark.operators.retrieval import (
                hybrid_search,
                interp_fuse,
                rrf_fuse,
            )
            from esper_tv_spark.operators.similarity import ivf_probe_index
            from esper_tv_spark.operators.text import bm25_scores

            # the staged table is the DOCUMENT corpus: default its id
            # (the stage-wide default vec_id is the embedding-table id)
            hid = sim.get("id_col", "doc_id")
            if not isinstance(hid, str) or hid not in df.columns:
                raise DSLError(f"hybrid id_col {hid!r} is not a column")
            htext = sim.get("text_col", "text")
            if not isinstance(htext, str) or htext not in df.columns:
                raise DSLError(f"hybrid text_col {htext!r} is not a column")
            spark = df.sparkSession
            if weights is None and method == "rrf":
                df = hybrid_search(
                    df, spark, hpath, terms, hq, hk,
                    k_cand=k_cand, n_probe=n_probe, rrf_k=rrf_k,
                    id_col=hid, text_col=htext,
                )
            else:
                lex = (
                    bm25_scores(
                        df, terms, id_col=hid,
                        text_col=htext,
                    )
                    .select(hid, F.round("score", 6).alias("score"))
                    .orderBy(F.col("score").desc(), F.col(hid).asc())
                    .limit(k_cand)
                )
                vec = ivf_probe_index(spark, hpath, hq, k_cand, n_probe=n_probe)
                lists = [(lex, hid, "score", True), (vec, "vec_id", "cosine_sim", True)]
                w2 = [float(weights[0]), float(weights[1])]
                if method == "interp":
                    # q114's shape: min-max normalized weighted blend
                    df = interp_fuse(lists, weights=w2, id_out=hid).limit(hk)
                else:
                    df = rrf_fuse(lists, k=rrf_k, id_out=hid, weights=w2).limit(hk)
        elif op == "ann_probe":
            # probe a PERSISTED index (the serving path — reference entry
            # point A, views.py:56-66, reaching face_embeddings.py-style
            # knn without arbitrary Python).  Index by NAME from the
            # server-provided index_catalog, never by path.  Single query
            # ('query' vector or 'query_id') -> *_probe_index; a
            # 'query_ids' batch -> the amortized-scan *_knn_join_index.
            name = sim.get("index")
            if not isinstance(name, str) or name not in (index_catalog or {}):
                raise DSLError(f"unknown index {name!r}")
            path = index_catalog[name]
            # range search: 'threshold' replaces 'k' (the answer size is
            # a property of the data, not a count) — mutually exclusive
            # so the spec surface stays unambiguous
            thr = sim.get("threshold")
            if thr is not None and "k" in sim:
                raise DSLError(
                    "'threshold' (range search) and 'k' are mutually exclusive"
                )
            if thr is not None and (
                isinstance(thr, bool) or not isinstance(thr, (int, float))
            ):
                raise DSLError("'threshold' must be a number")
            k = sim.get("k")
            if thr is None and (not _int(k) or k <= 0):
                raise DSLError(
                    "ann_probe needs a positive int 'k' (or 'threshold' "
                    "for range search)"
                )
            n_probe = sim.get("n_probe", 3)
            if not _int(n_probe) or n_probe <= 0:
                raise DSLError("'n_probe' must be a positive int")
            # two-level indexes (a groups/ table) rank level-1 group
            # centers first and prune the centroid read; flat indexes
            # ignore the knob (same default as the library probes)
            n_probe_groups = sim.get("n_probe_groups", 3)
            if not _int(n_probe_groups) or n_probe_groups <= 0:
                raise DSLError("'n_probe_groups' must be a positive int")
            # kind WHITELIST — fail closed on anything that is not a
            # probeable ivf/ivfpq/ivfsq store.  Defaulting unknown metas
            # to ivfpq would silently mis-probe e.g. a legacy PQ store
            # (codes/ + codebooks/, no meta.json); the catalog is
            # server-owned so this is operator error, not injection — but
            # it should be a loud error, same stance as every other
            # rejection here.  The rules are similarity._open_index's.
            try:
                kind = sim_ops._open_index(path).kind
            except ValueError as e:
                raise DSLError(
                    f"index {name!r} is not a probeable ivf/ivfpq/ivfsq store"
                ) from e
            # pre-filter: a whitelisted predicate over the probed
            # table's own columns -> allowed-id set semi-joined onto
            # the posting scan (similarity._apply_id_filter).  The
            # predicate is DATA (col/op/value triple), never an
            # expression string — same fail-closed stance as the rest
            # of the surface.
            flt = sim.get("filter")
            filter_ids = None
            if flt is not None:
                import operator as _cmp

                if not isinstance(flt, dict):
                    raise DSLError("'filter' must be an object")
                fcol, fop, fval = flt.get("col"), flt.get("op", "="), flt.get("value")
                if not isinstance(fcol, str) or fcol not in df.columns:
                    raise DSLError(
                        f"filter col {fcol!r} is not a column of table "
                        f"{spec.get('table')!r}"
                    )

                def _scalar(v):
                    return isinstance(v, (int, float, str)) and not isinstance(v, bool)

                cmps = {
                    "=": _cmp.eq, "!=": _cmp.ne, "<": _cmp.lt,
                    "<=": _cmp.le, ">": _cmp.gt, ">=": _cmp.ge,
                }
                if fop == "in":
                    if (
                        not isinstance(fval, list)
                        or not fval
                        or not all(_scalar(v) for v in fval)
                    ):
                        raise DSLError(
                            "filter op 'in' needs a non-empty list of scalars"
                        )
                    pred = F.col(fcol).isin(fval)
                elif fop in cmps:
                    if not _scalar(fval):
                        raise DSLError("filter 'value' must be a scalar")
                    pred = cmps[fop](F.col(fcol), F.lit(fval))
                else:
                    raise DSLError(f"filter op not allowed: {fop!r}")
                if id_col not in df.columns:
                    # fail-closed like fcol above — a bad id_col must be a
                    # DSLError, not a raw AnalysisException from the select
                    raise DSLError(
                        f"id_col {id_col!r} is not a column of table "
                        f"{spec.get('table')!r}"
                    )
                filter_ids = df.where(pred).select(id_col)
            fset = sim.get("filter_set")
            if fset is not None:
                # a PERSISTED allow-set (similarity.build_filter_set),
                # addressed by KEY — the serving path: the predicate was
                # evaluated and deduplicated once at build, so the probe
                # pays a tiny pruned read instead of a corpus distinct
                if flt is not None:
                    raise DSLError("'filter' and 'filter_set' are exclusive")
                if not isinstance(fset, str):
                    raise DSLError("'filter_set' must be a key string")
                from esper_tv_spark.operators.similarity import load_filter_set

                try:
                    filter_ids = load_filter_set(df.sparkSession, path, fset)
                except ValueError as e:
                    raise DSLError(str(e)) from e
            if thr is not None and kind != "ivf":
                # coded stores rank by approximate distance, where a
                # cosine bar is undefined — reject, never mis-rank
                raise DSLError(
                    f"range search ('threshold') needs an ivf store; "
                    f"index {name!r} is {kind}"
                )
            spark = df.sparkSession
            if "query_ids" in sim:
                if thr is not None:
                    raise DSLError(
                        "range search ('threshold') is single-query — "
                        "use 'query' or 'query_id'"
                    )
                qids = sim["query_ids"]
                if not isinstance(qids, list) or not qids or not all(_int(q) for q in qids):
                    raise DSLError("'query_ids' must be a non-empty list of ints")
                queries = df.where(F.col(id_col).isin(qids)).select(
                    F.col(id_col).alias("qid"), F.col(vec_col).alias("qvec")
                )
                # the single-id path raises DSLError for an absent id; the
                # batch path must not silently drop absentees (nor let a
                # fan-out duplicate surface as a raw ValueError from the
                # join's batch collect) — one driver action over the
                # filtered batch, spec-surface consistency
                got = [r[0] for r in queries.select("qid").collect()]
                missing = sorted(set(qids) - set(got))
                if missing:
                    raise DSLError(f"query_ids not found: {missing}")
                dupes = sorted({g for g in got if got.count(g) > 1})
                if dupes:
                    raise DSLError(
                        f"query_ids duplicated in table {spec['table']!r}: {dupes}"
                    )
                join_fn = {
                    "ivf": sim_ops.ivf_knn_join_index,
                    "ivfpq": sim_ops.ivfpq_knn_join_index,
                    "ivfsq": sim_ops.ivfsq_knn_join_index,
                }[kind]
                df = join_fn(
                    spark, path, queries, k, n_probe=n_probe, id_col=id_col,
                    n_probe_groups=n_probe_groups, filter_ids=filter_ids,
                )
            else:
                if "query" in sim:
                    q = _vec(sim["query"], "'query'")
                elif "query_id" in sim:
                    qid = sim["query_id"]
                    if not _int(qid):
                        raise DSLError("'query_id' must be an int")
                    row = df.where(F.col(id_col) == F.lit(qid)).select(vec_col).head()
                    if row is None:
                        raise DSLError(f"query_id {qid} not found")
                    q = [float(x) for x in row[0]]
                else:
                    raise DSLError("ann_probe needs 'query', 'query_id', or 'query_ids'")
                if thr is not None:
                    df = sim_ops.ivf_range_search(
                        spark, path, q, float(thr), n_probe=n_probe,
                        id_col=id_col, n_probe_groups=n_probe_groups,
                        filter_ids=filter_ids,
                    )
                else:
                    probe_fn = {
                        "ivf": sim_ops.ivf_probe_index,
                        "ivfpq": sim_ops.ivfpq_probe_index,
                        "ivfsq": sim_ops.ivfsq_probe_index,
                    }[kind]
                    df = probe_fn(
                        spark, path, q, k, n_probe=n_probe, id_col=id_col,
                        n_probe_groups=n_probe_groups, filter_ids=filter_ids,
                    )
        else:
            raise DSLError(f"similarity op not allowed: {op!r}")

    # dedup stage: the training-data dedup family from the safe surface
    # (exact fingerprint dedup, LSH near-dup pairs, full near-dup with
    # Jaccard verify) — whitelisted params only, no custom predicates.
    dd = spec.get("dedup")
    if dd is not None:
        from esper_tv_spark.operators import dedup as dd_ops

        def _pos_int(v, what: str, default: int) -> int:
            if v is None:
                return default
            if not isinstance(v, int) or isinstance(v, bool) or v <= 0:
                raise DSLError(f"{what} must be a positive int")
            return v

        op = dd.get("op")
        id_col = dd.get("id_col", "doc_id")
        text_col = dd.get("text_col", "text")
        if not isinstance(id_col, str) or not isinstance(text_col, str):
            raise DSLError("id_col/text_col must be column names")
        if op == "exact":
            df = dd_ops.dedup_exact(df, id_col=id_col, text_col=text_col)
        elif op == "lsh_pairs":
            df = dd_ops.lsh_candidate_pairs(
                df,
                n_hashes=_pos_int(dd.get("n_hashes"), "n_hashes", 8),
                shingle_n=_pos_int(dd.get("shingle_n"), "shingle_n", 3),
                n_bands=_pos_int(dd.get("n_bands"), "n_bands", 4),
                id_col=id_col,
                text_col=text_col,
            )
        elif op == "near_dup":
            df = dd_ops.lsh_near_dup(
                df,
                n_hashes=_pos_int(dd.get("n_hashes"), "n_hashes", 8),
                shingle_n=_pos_int(dd.get("shingle_n"), "shingle_n", 3),
                n_bands=_pos_int(dd.get("n_bands"), "n_bands", 4),
                id_col=id_col,
                text_col=text_col,
            )
        elif op == "semantic":
            # SemDeDup over an embedding column (k-means blocking +
            # within-cluster cosine); ids default to the vector table's
            vec_col = dd.get("vec_col", "embedding")
            if not isinstance(vec_col, str):
                raise DSLError("vec_col must be a column name")
            thr = dd.get("threshold", 0.9)
            if isinstance(thr, bool) or not isinstance(thr, (int, float)) or not -1.0 <= thr <= 1.0:
                raise DSLError("threshold must be a number in [-1, 1]")
            if "k" in dd:
                k = _pos_int(dd.get("k"), "k", 8)
            else:
                # no pinned default: a fixed k goes quadratic one decade up
                # (sum(n_c^2) with n_c ~ n/k). Derive it from the corpus the
                # same way q85 does; the count is one job at plan time, paid
                # only when the caller didn't size the blocking themselves.
                k = dd_ops.recommended_clusters(df.count())
            df = dd_ops.semantic_dedup(
                df,
                k=k,
                threshold=float(thr),
                id_col=dd.get("id_col", "vec_id"),
                vec_col=vec_col,
            )
        elif op == "edit_join":
            # PassJoin edit-distance similarity join (q119's operator):
            # the string near-match family from the safe surface.  `col`
            # names the string column; t is the distance threshold.
            col = dd.get("col", text_col)
            if not isinstance(col, str) or col not in df.columns:
                raise DSLError(f"edit_join col {col!r} is not a column")
            if id_col not in df.columns:
                raise DSLError(f"edit_join id_col {id_col!r} is not a column")
            t = dd.get("t", 2)
            if not isinstance(t, int) or isinstance(t, bool) or not 1 <= t <= 8:
                raise DSLError("edit_join 't' must be an int in [1, 8]")
            df = dd_ops.edit_similarity_join(df, t=t, id_col=id_col, str_col=col)
        elif op == "set_sim_join":
            # AllPairs prefix-filtered exact Jaccard join (q122's
            # operator) — the deterministic twin of 'lsh_pairs'+verify.
            if id_col not in df.columns or text_col not in df.columns:
                raise DSLError("set_sim_join id_col/text_col must be columns")
            tau = dd.get("tau")
            if isinstance(tau, bool) or not isinstance(tau, (int, float)) or not 0.0 < tau <= 1.0:
                raise DSLError("set_sim_join 'tau' must be a number in (0, 1]")
            df = dd_ops.set_similarity_join(
                df,
                tau=float(tau),
                shingle_n=_pos_int(dd.get("shingle_n"), "shingle_n", 3),
                id_col=id_col,
                text_col=text_col,
            )
        else:
            raise DSLError(f"dedup op not allowed: {op!r}")

    # analytics stage: the event-sequence verbs (funnel / cohort
    # retention / gap fill) and the corpus statistics (heavy hitters) —
    # each a whitelisted operator call with plain-value params, same
    # fail-closed stance as every stage above.
    an = spec.get("analyze")
    if an is not None:
        op = an.get("op")
        if op == "funnel":
            from esper_tv_spark.operators.events import funnel as _funnel

            steps = an.get("steps")
            if (
                not isinstance(steps, list)
                or not steps
                or not all(isinstance(s, str) and s for s in steps)
            ):
                raise DSLError("funnel needs a non-empty 'steps' list of strings")
            gap = an.get("max_gap_seconds")
            if gap is not None and (
                isinstance(gap, bool) or not isinstance(gap, int) or gap <= 0
            ):
                raise DSLError("'max_gap_seconds' must be a positive int")
            by = an.get("by", "user_id")
            if not isinstance(by, str) or by not in df.columns:
                raise DSLError(f"funnel 'by' {by!r} is not a column")
            try:
                df = _funnel(df, steps, by=by, max_gap_seconds=gap)
            except ValueError as e:
                raise DSLError(f"funnel: {e}") from e
        elif op == "retention":
            from esper_tv_spark.operators.events import cohort_retention as _ret

            by = an.get("by", "user_id")
            if not isinstance(by, str) or by not in df.columns:
                raise DSLError(f"retention 'by' {by!r} is not a column")
            try:
                df = _ret(df, by=by, granularity=an.get("granularity", "week"))
            except ValueError as e:
                raise DSLError(f"retention: {e}") from e
        elif op == "gap_fill":
            from esper_tv_spark.operators.events import gap_fill as _gf

            by = an.get("by", "event_type")
            if not isinstance(by, str) or by not in df.columns:
                raise DSLError(f"gap_fill 'by' {by!r} is not a column")
            bucket = an.get("bucket", "1 hour")
            if not isinstance(bucket, str):
                raise DSLError("gap_fill 'bucket' must be a string")
            try:
                df = _gf(df, bucket=bucket, by=by)
            except ValueError as e:
                raise DSLError(f"gap_fill: {e}") from e
        elif op == "heavy_hitters":
            from esper_tv_spark.operators.corpus import heavy_hitters as _hh

            key = an.get("key")
            if not isinstance(key, str) or key not in df.columns:
                raise DSLError(f"heavy_hitters 'key' {key!r} is not a column")
            phi = an.get("phi")
            if isinstance(phi, bool) or not isinstance(phi, (int, float)) or not 0.0 < phi < 1.0:
                raise DSLError("heavy_hitters 'phi' must be a number in (0, 1)")
            df = _hh(df, key, float(phi))
        else:
            raise DSLError(f"analyze op not allowed: {op!r}")

    # text stage: the caption-search verbs from the safe surface —
    # phrase_search / the boolean `&`-grammar / BM25 ranking.  Caption
    # search is a primary web-UI use-case in the reference
    # (captions.py:93-103, usage other_queries.py:246-263: the endpoint
    # the exec() RCE served); this reaches operators/text.py the same
    # whitelisted way ann_probe reaches similarity.  Query strings are
    # DATA compiled to contains/position-chain predicates — never code.
    tx = spec.get("text")
    if tx is not None:
        from esper_tv_spark.operators import text as tx_ops

        op = tx.get("op")
        id_col = tx.get("id_col", "doc_id")
        text_col = tx.get("text_col", "text")
        if not isinstance(id_col, str) or not isinstance(text_col, str):
            raise DSLError("id_col/text_col must be column names")
        if op == "phrase_search":
            phrase = tx.get("phrase")
            if not isinstance(phrase, str) or not phrase.split():
                raise DSLError("phrase_search needs a non-empty 'phrase' string")
            df = tx_ops.phrase_search(df, phrase, id_col=id_col, text_col=text_col)
        elif op == "query_search":
            q = tx.get("query")
            if not isinstance(q, str):
                raise DSLError("query_search needs a 'query' string")
            try:
                df = tx_ops.query_search(df, q, id_col=id_col, text_col=text_col)
            except ValueError as e:
                # the grammar rejects queries with no non-empty clause
                # ("", "&", "[]", ...) — surface it as a spec error
                raise DSLError(f"query_search: {e}") from e
        elif op == "bm25":
            terms = tx.get("terms")
            if (
                not isinstance(terms, list)
                or not terms
                or not all(isinstance(t, str) and t for t in terms)
            ):
                raise DSLError("bm25 needs a non-empty 'terms' list of strings")

            def _num(v, what: str, default: float) -> float:
                if v is None:
                    return default
                if isinstance(v, bool) or not isinstance(v, (int, float)) or v < 0:
                    raise DSLError(f"{what} must be a non-negative number")
                return float(v)

            df = tx_ops.bm25_scores(
                df,
                terms,
                k1=_num(tx.get("k1"), "k1", 1.2),
                b=_num(tx.get("b"), "b", 0.75),
                id_col=id_col,
                text_col=text_col,
            )
        else:
            raise DSLError(f"text op not allowed: {op!r}")

    for out_name, w in spec.get("window", {}).items():
        # {"fn": "row_number", "col"?: expr, "partition_by": [...],
        #  "order_by": [["col", "asc"|"desc"], ...]} — the SURVEY §2.5
        # family (argmax-per-group, percentiles, session flags) from the
        # safe surface
        from pyspark.sql import Window

        fn = w.get("fn")
        if fn not in _WINDOW_FNS:
            raise DSLError(f"window fn not allowed: {fn!r}")
        win = Window.partitionBy(
            *[F.col(p) for p in w.get("partition_by", [])]
        )
        order = []
        for ob in w.get("order_by", []):
            name, direction = (ob if isinstance(ob, list) else (ob, "asc"))
            if direction not in ("asc", "desc"):
                raise DSLError(f"bad order direction {direction!r}")
            order.append(F.col(name).desc() if direction == "desc" else F.col(name).asc())
        if order:
            win = win.orderBy(*order)
        if fn in _WINDOW_FNS_NEED_COL and "col" not in w:
            raise DSLError(f"window fn {fn!r} requires a 'col'")
        col = compile_expr(w["col"]) if "col" in w else None
        df = df.withColumn(out_name, _WINDOW_FNS[fn](col).over(win))

    # qualify = post-window filter (the argmax-per-group cut); `where`
    # runs before windows, as in SQL
    for cond in spec.get("qualify", []):
        if isinstance(cond, list) and len(cond) == 3:
            lhs, op, rhs = cond
            df = df.where(compile_expr({"op": op, "args": [lhs, rhs]}))
        else:
            df = df.where(compile_expr(cond))

    if "agg" in spec:
        aggs = []
        for out_name, a in spec["agg"].items():
            fn = a.get("fn")
            if fn not in _AGGS:
                raise DSLError(f"agg not allowed: {fn!r}")
            if fn != "count" and "col" not in a:
                raise DSLError(f"agg {fn!r} requires a 'col'")
            col = compile_expr(a["col"]) if "col" in a else None
            aggs.append(_AGGS[fn](col).alias(out_name))
        group = spec.get("group_by", [])
        df = df.groupBy(*[compile_expr(g) if not isinstance(g, str) else F.col(g) for g in group]).agg(*aggs) if group else df.agg(*aggs)
    elif "select" in spec:
        df = df.select(
            *[
                compile_expr(s).alias(s) if isinstance(s, str)
                else compile_expr(s["expr"]).alias(s["as"])
                for s in spec["select"]
            ]
        )

    if spec.get("order_by"):
        cols = []
        for ob in spec["order_by"]:
            name, direction = (ob if isinstance(ob, list) else (ob, "asc"))
            if direction not in ("asc", "desc"):
                raise DSLError(f"bad order direction {direction!r}")
            cols.append(F.col(name).desc() if direction == "desc" else F.col(name).asc())
        df = df.orderBy(*cols)

    if "limit" in spec:
        n = spec["limit"]
        if not isinstance(n, int) or n < 0:
            raise DSLError("limit must be a non-negative int")
        df = df.limit(n)
    return df
