#!/usr/bin/env python3
"""Differential SQL fuzzer for the text-to-SQL surface (round-7 verdict #1).

The reference's engine contract is "execute ARBITRARY LLM-generated
SELECTs" (ai_agent.py:118-124); four hand-picked queries are weak
evidence for an open-ended contract. This tool generates a seeded,
grammar-constrained family of SELECT statements from the prompt's own
idiom set (ai_agent.py:42-105: date functions, LIKE + %,
REPLACE(x,' ','') fuzzy match, JSON-string LIKE, null/'[]' exclusion)
plus the relational shapes the agent emits (GROUP BY, window row_number,
EXISTS, top-k, joins, unions), renders each as ONE SQL text that parses
and evaluates identically in Spark SQL and DuckDB, sanity-runs it
against DuckDB on sf0.01, and emits src/main/scala/graft/SqlFuzz.scala —
whose cases faces/SqlFaces declares as faces (SparkEntry.queries and
oracleSql derive from them) so the driver's correctness gate
hash-compares every one.

Dialect-portability rules the grammar enforces (each is a REAL
divergence between the engines, pinned here by construction):
  - ORDER BY keys always carry explicit NULLS FIRST / NULLS LAST:
    Spark defaults ASC→NULLS FIRST, DuckDB defaults ASC→NULLS LAST.
  - Aggregates over DOUBLE columns go through
    CAST(SUM(CAST(x AS DECIMAL(38,6))) AS DOUBLE): decimal sums are
    order-independent (Spark partial aggregation vs DuckDB fold), and
    the output is DOUBLE because the harness hashes decimal columns
    differently per engine (round-1 lesson).
  - SUM over integer columns is CAST(... AS BIGINT): DuckDB widens to
    HUGEINT, which pandas renders as float64 and large values would
    lose exactness.
  - Timestamp columns compare via CAST(col AS DATE) against DATE
    literals (the repo-wide convention); `events.ts` never appears —
    Spark-side it is the epoch-nanos Long contract, DuckDB-side a
    timestamp, so the same text cannot mean the same thing.
  - AVG is avoided in favor of exact-sum / count division with an
    explicit DOUBLE cast (one IEEE division in both engines).
  - Every query ends with a TOTAL order (all output columns) so LIMIT
    and hashing are deterministic up to multiset equality.
  - round() is excluded: Spark rounds HALF_UP, DuckDB HALF_EVEN.
  - No SELECT * (schema drift) and no GROUP BY aliases (Spark allows,
    DuckDB allows, but resolution corner cases differ) — group keys are
    repeated expressions.

Usage:
  python3 tools/sqlfuzz.py            # regenerate SqlFuzz.scala (seed 42, n=50)
  python3 tools/sqlfuzz.py --check    # only run the DuckDB sanity pass
  python3 tools/sqlfuzz.py --sweep SEED [N]
      # round-9 verdict item: generate a FRESH N-case batch (default 50)
      # from the FULL template union under a new seed, run it through
      # BOTH engines (Spark via graft.SqlSweepMain, DuckDB in-process),
      # and report divergences WITHOUT committing the cases. The two
      # existing pinned divergences were found during generation, so new
      # seeds have expected yield; a clean sweep is itself evidence.
      # Writes tools/sqlsweep_seed<SEED>.json with the per-case verdicts.
"""
import json, os, random, subprocess, sys

SEED = 42
N = 50
SEED_B = 4242  # block B (cases 50+): extended grammar, frozen separately
N_B = 30
SEED_C = 424242  # block C (cases 80+): round-8 second widening
N_C = 25
SEED_D = 42424242  # block D (cases 105+): round-8 third widening
N_D = 20
SEED_E = 4242424242  # block E (cases 125+): round-8 fourth widening
N_E = 24
SEED_F = 424242424242  # block F (cases 149+): round-10 multi-join widening
N_F = 15
SEED_G = 42424242424242  # block G (cases 164+): round-11 outer/window/re-agg multi-join widening
N_G = 15
SEED_H = 4242424242424242  # block H (dual-text): round-12 nested/array/JSON widening
N_H = 15
SEED_I = 424242424242424242  # block I (cases 179+): round-13 correlated-subquery widening
N_I = 15
SF = "/root/testdata/sf0.01"
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(REPO, "src/main/scala/graft/SqlFuzz.scala")

# (table, columns usable in the portable grammar)
#   kind: i=integer-ish, d=double, s=string, t=timestamp(cast to DATE)
COLS = {
    "region":   [("r_regionkey", "i"), ("r_name", "s")],
    "nation":   [("n_nationkey", "i"), ("n_name", "s"), ("n_regionkey", "i")],
    "customer": [("c_custkey", "i"), ("c_name", "s"), ("c_nationkey", "i"),
                 ("c_acctbal", "d"), ("c_mktsegment", "s")],
    "supplier": [("s_suppkey", "i"), ("s_name", "s"), ("s_nationkey", "i"),
                 ("s_acctbal", "d")],
    "part":     [("p_partkey", "i"), ("p_name", "s"), ("p_brand", "s"),
                 ("p_type", "s"), ("p_size", "i"), ("p_retailprice", "d")],
    "orders":   [("o_orderkey", "i"), ("o_custkey", "i"), ("o_orderstatus", "s"),
                 ("o_totalprice", "d"), ("o_orderdate", "t"),
                 ("o_orderpriority", "s")],
    "lineitem": [("l_orderkey", "i"), ("l_partkey", "i"), ("l_suppkey", "i"),
                 ("l_linenumber", "i"), ("l_quantity", "d"),
                 ("l_extendedprice", "d"), ("l_discount", "d"),
                 ("l_returnflag", "s"), ("l_linestatus", "s"),
                 ("l_shipdate", "t")],
    # events.ts is EXCLUDED (Long-nanos contract, see module doc);
    # props is the JSON-string LIKE surface
    "events":   [("event_id", "i"), ("user_id", "i"), ("event_type", "s"),
                 ("value", "d"), ("props", "s")],
    "documents": [("doc_id", "i"), ("text", "s"), ("lang", "s"),
                  ("source", "s"), ("n_chars", "i")],
}

# value vocabulary mined from the sf0.01 data (kept literal so the fuzz
# family is self-contained and reproducible)
VOCAB = {
    "c_mktsegment": ["BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "FURNITURE"],
    "o_orderstatus": ["P", "O", "F"],
    "o_orderpriority": ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
    "l_returnflag": ["R", "A", "N"],
    "l_linestatus": ["O", "F"],
    "event_type": ["click", "signup", "error", "view", "purchase"],
    "lang": ["en", "de", "fr", "es"],
    "p_brand": ["Brand#%d" % i for i in range(1, 25)],
    "p_type": ["ECONOMY", "SMALL", "STANDARD", "LARGE", "PROMO"],
    "like_words": ["widget", "ring", "bolt", "gear", "red", "blue", "small"],
    "name_prefix": ["Customer#00000", "Supplier#"],
    "json_digits": ["1", "2", "3", "4", "5", "6", "7", "8", "9"],
    "dates": ["1995-06-01", "1996-01-01", "1996-07-01", "1997-01-01",
              "1997-06-15", "1998-01-01", "1999-01-01", "2000-01-01"],
}

# FK edges the join templates draw from: (left, right, on-left, on-right)
JOINS = [
    ("orders", "customer", "o_custkey", "c_custkey"),
    ("lineitem", "orders", "l_orderkey", "o_orderkey"),
    ("lineitem", "part", "l_partkey", "p_partkey"),
    ("lineitem", "supplier", "l_suppkey", "s_suppkey"),
    ("customer", "nation", "c_nationkey", "n_nationkey"),
    ("supplier", "nation", "s_nationkey", "n_nationkey"),
    ("nation", "region", "n_regionkey", "r_regionkey"),
]


def cols_of(t, kind=None):
    return [c for c, k in COLS[t] if kind is None or k == kind]


def ref(c, t):
    """Column reference with the DATE-cast convention for timestamps."""
    k = dict(COLS[t])[c]
    return f"CAST({c} AS DATE)" if k == "t" else c


def sum_of(c, t):
    k = dict(COLS[t])[c]
    if k == "d":
        return f"CAST(SUM(CAST({c} AS DECIMAL(38,6))) AS DOUBLE)"
    return f"CAST(SUM({c}) AS BIGINT)"


class Gen:
    def __init__(self, rng):
        self.r = rng

    def predicate(self, t, alias=""):
        """One portable predicate over table t's columns (prompt idioms)."""
        p = alias + "." if alias else ""
        choice = self.r.randrange(7)
        scols = cols_of(t, "s")
        icols = cols_of(t, "i")
        dcols = cols_of(t, "d")
        tcols = cols_of(t, "t")
        if choice == 0 and scols:       # vocab equality / IN list
            c = self.r.choice(scols)
            vocab = VOCAB.get(c)
            if vocab:
                vals = self.r.sample(vocab, min(len(vocab), self.r.choice([1, 2, 3])))
                if len(vals) == 1:
                    return f"{p}{c} = '{vals[0]}'"
                quoted = ", ".join(f"'{v}'" for v in sorted(vals))
                return f"{p}{c} IN ({quoted})"
            return f"LENGTH({p}{c}) > {self.r.randrange(5, 12)}"
        if choice == 1 and scols:       # LIKE idiom
            c = self.r.choice(scols)
            if c == "props":            # JSON-string LIKE (ai_agent.py:95-96)
                return f"{p}props LIKE '%\"k\": {self.r.choice(VOCAB['json_digits'])}%'"
            w = self.r.choice(VOCAB["like_words"])
            neg = "NOT " if self.r.random() < 0.25 else ""
            return f"{p}{c} {neg}LIKE '%{w}%'"
        if choice == 2 and scols:       # REPLACE fuzzy match (ai_agent.py:97)
            c = self.r.choice(scols)
            w = "".join(self.r.choice(VOCAB["like_words"]) for _ in range(1))
            return f"REPLACE({p}{c}, ' ', '') LIKE '%{w}%'"
        if choice == 3 and icols:       # integer range
            c = self.r.choice(icols)
            lo = self.r.randrange(0, 40)
            return self.r.choice([
                f"{p}{c} > {lo}",
                f"{p}{c} BETWEEN {lo} AND {lo + self.r.randrange(10, 5000)}",
                f"{p}{c} % {self.r.randrange(2, 7)} = {self.r.randrange(0, 2)}"])
        if choice == 4 and dcols:       # double threshold (literal compare is exact)
            c = self.r.choice(dcols)
            return f"{p}{c} {self.r.choice(['<', '>', '<='])} {self.r.randrange(1, 9000)}"
        if choice == 5 and tcols:       # date window (prompt: date(target_dt) idiom)
            c = self.r.choice(tcols)
            d1, d2 = sorted(self.r.sample(VOCAB["dates"], 2))
            return self.r.choice([
                f"CAST({p}{c} AS DATE) >= DATE '{d1}'",
                f"CAST({p}{c} AS DATE) BETWEEN DATE '{d1}' AND DATE '{d2}'",
                f"YEAR(CAST({p}{c} AS DATE)) = {self.r.choice(['1996', '1997', '1998'])}"])
        if scols:                       # null/'[]' exclusion idiom (ai_agent.py:96)
            c = self.r.choice(scols)
            return f"{p}{c} IS NOT NULL AND {p}{c} <> '[]'"
        return "1 = 1"

    def preds(self, t, alias="", n=None):
        n = n if n is not None else self.r.choice([1, 1, 2, 2, 3])
        return " AND ".join(self.predicate(t, alias) for _ in range(n))

    # --- templates ------------------------------------------------------

    def t_scan(self):
        """Filter + project + sort + top-k on one table."""
        t = self.r.choice(list(COLS))
        cs = self.r.sample(cols_of(t), min(len(COLS[t]), self.r.choice([2, 3, 4])))
        sel = ", ".join(f"{ref(c, t)} AS {c}" for c in cs)
        order = ", ".join(f"{c} NULLS FIRST" for c in cs)
        lim = self.r.choice([100, 200, 500])
        return (f"SELECT {sel} FROM {t} WHERE {self.preds(t)} "
                f"ORDER BY {order} LIMIT {lim}")

    def t_group(self):
        """GROUP BY + aggregates (+ optional HAVING) + total order."""
        t = self.r.choice(["orders", "lineitem", "customer", "part", "events",
                           "documents", "supplier"])
        keys = self.r.sample(cols_of(t, "s") + cols_of(t, "t"),
                             self.r.choice([1, 1, 2]))
        keyexprs = [ref(c, t) for c in keys]
        aggs = [f"COUNT(*) AS cnt"]
        num = self.r.choice(cols_of(t, "d") + cols_of(t, "i"))
        aggs.append(f"{sum_of(num, t)} AS total_{num}")
        scol = self.r.choice(cols_of(t, "i") + cols_of(t, "d"))
        aggs.append(f"MIN({scol}) AS min_{scol}")
        having = f" HAVING COUNT(*) > {self.r.randrange(1, 5)}" \
            if self.r.random() < 0.4 else ""
        sel = ", ".join([f"{e} AS {k}" for e, k in zip(keyexprs, keys)] + aggs)
        order = ", ".join([f"{k} NULLS FIRST" for k in keys])
        return (f"SELECT {sel} FROM {t} WHERE {self.preds(t)} "
                f"GROUP BY {', '.join(keyexprs)}{having} ORDER BY {order}")

    def t_join(self):
        """FK join + filter + group-by rollup."""
        l, rt, lk, rk = self.r.choice(JOINS)
        jt = self.r.choice(["JOIN", "LEFT JOIN"])
        key = self.r.choice(cols_of(rt, "s"))
        num = self.r.choice(cols_of(l, "d") + cols_of(l, "i"))
        # qualify the aggregated column with the left alias; group keys
        # from the RIGHT side of a LEFT JOIN can be NULL — kept on purpose
        # (null grouping + the pinned NULLS FIRST ordering get exercised)
        inner = sum_of(num, l).replace(f"CAST({num} ", f"CAST(l.{num} ") \
                              .replace(f"SUM({num})", f"SUM(l.{num})")
        sel = f"r.{key} AS {key}, COUNT(*) AS cnt, {inner} AS total_{num}"
        where = self.preds(l, "l")
        return (f"SELECT {sel} FROM {l} l {jt} {rt} r ON l.{lk} = r.{rk} "
                f"WHERE {where} GROUP BY r.{key} ORDER BY {key} NULLS FIRST")

    def t_window(self):
        """ROW_NUMBER latest/top-per-key in a subquery (prompt's W1 shape)."""
        t, part, ordc, uniq = self.r.choice([
            ("orders", "o_orderstatus", "o_totalprice", "o_orderkey"),
            ("orders", "o_orderpriority", "o_orderdate", "o_orderkey"),
            ("lineitem", "l_returnflag", "l_extendedprice", "l_orderkey"),
            ("customer", "c_mktsegment", "c_acctbal", "c_custkey"),
            ("part", "p_brand", "p_retailprice", "p_partkey"),
            ("events", "event_type", "value", "event_id"),
        ])
        k = self.r.choice([1, 2, 3])
        ordexpr = ref(ordc, t)
        cs = [part, ordc, uniq]
        sel = ", ".join(f"{ref(c, t)} AS {c}" for c in cs)
        return (f"SELECT {part}, {ordc}, {uniq}, rn FROM ("
                f"SELECT {sel}, ROW_NUMBER() OVER (PARTITION BY {part} "
                f"ORDER BY {ordexpr} DESC NULLS LAST, {uniq} NULLS FIRST) AS rn "
                f"FROM {t} WHERE {self.preds(t)}) t WHERE rn <= {k} "
                f"ORDER BY {part} NULLS FIRST, rn NULLS FIRST")

    def t_exists(self):
        """(NOT) EXISTS correlated subquery (agent's anti/semi idiom)."""
        neg = self.r.choice(["", "NOT "])
        l, rt, lk, rk = self.r.choice([
            ("orders", "lineitem", "o_orderkey", "l_orderkey"),
            ("customer", "orders", "c_custkey", "o_custkey"),
            ("part", "lineitem", "p_partkey", "l_partkey"),
            ("supplier", "lineitem", "s_suppkey", "l_suppkey"),
        ])
        cs = self.r.sample(cols_of(l), min(len(COLS[l]), 3))
        sel = ", ".join(f"{ref(c, l)} AS {c}" for c in cs)
        order = ", ".join(f"{c} NULLS FIRST" for c in cs)
        sub = self.preds(rt, "i", n=1)
        return (f"SELECT {sel} FROM {l} o WHERE {self.preds(l, 'o', n=1)} "
                f"AND {neg}EXISTS (SELECT 1 FROM {rt} i "
                f"WHERE i.{rk} = o.{lk} AND {sub}) "
                f"ORDER BY {order} LIMIT 200")

    def t_case(self):
        """CASE WHEN bucketing + rollup (the F15 status-bucket idiom)."""
        t, c = self.r.choice([("lineitem", "l_quantity"), ("orders", "o_totalprice"),
                              ("customer", "c_acctbal"), ("part", "p_size"),
                              ("documents", "n_chars")])
        hi = self.r.randrange(20, 60)
        mid = hi // 2
        bucket = (f"CASE WHEN {c} > {hi} THEN 'high' WHEN {c} > {mid} "
                  f"THEN 'mid' WHEN {c} > 0 THEN 'low' ELSE 'none' END")
        return (f"SELECT {bucket} AS bucket, COUNT(*) AS cnt, "
                f"{sum_of(c, t)} AS total FROM {t} WHERE {self.preds(t)} "
                f"GROUP BY {bucket} ORDER BY bucket NULLS FIRST")

    def t_union(self):
        """UNION ALL of two projections + distinct count on top (T1 idiom)."""
        (t1, c1), (t2, c2) = self.r.sample(
            [("customer", "c_name"), ("supplier", "s_name"), ("part", "p_name"),
             ("nation", "n_name"), ("region", "r_name")], 2)
        op = self.r.choice(["UNION", "UNION ALL"])
        return (f"SELECT nm, COUNT(*) AS cnt FROM ("
                f"SELECT {c1} AS nm FROM {t1} WHERE {self.preds(t1, n=1)} "
                f"{op} SELECT {c2} AS nm FROM {t2} WHERE {self.preds(t2, n=1)}) u "
                f"GROUP BY nm ORDER BY nm NULLS FIRST, cnt NULLS FIRST LIMIT 300")

    def t_scalar_sub(self):
        """Compare against an uncorrelated scalar subquery (agent idiom:
        'above average')."""
        t, c, uniq = self.r.choice([
            ("orders", "o_totalprice", "o_orderkey"),
            ("customer", "c_acctbal", "c_custkey"),
            ("part", "p_retailprice", "p_partkey"),
            ("supplier", "s_acctbal", "s_suppkey"),
        ])
        # exact average: decimal sum / count, one IEEE division in both engines
        avg = (f"(SELECT CAST(SUM(CAST({c} AS DECIMAL(38,6))) AS DOUBLE) "
               f"/ CAST(COUNT(*) AS DOUBLE) FROM {t})")
        return (f"SELECT {uniq}, {c} FROM {t} WHERE {c} > {avg} "
                f"AND {self.preds(t, n=1)} "
                f"ORDER BY {uniq} NULLS FIRST, {c} NULLS FIRST LIMIT 300")

    def t_strfun(self):
        """String-function stack: SUBSTR/UPPER/LOWER/LENGTH/CONCAT group key."""
        t, c = self.r.choice([("customer", "c_name"), ("part", "p_name"),
                              ("supplier", "s_name"), ("documents", "lang"),
                              ("orders", "o_orderpriority")])
        keyexpr = self.r.choice([
            f"UPPER(SUBSTR({c}, 1, {self.r.randrange(2, 5)}))",
            f"LOWER(SUBSTR({c}, 1, {self.r.randrange(2, 5)}))",
            f"LENGTH({c})",
            f"CONCAT(SUBSTR({c}, 1, 2), '-', CAST(LENGTH({c}) AS STRING))",
        ])
        # CAST(x AS STRING): Spark accepts STRING, DuckDB aliases it too
        return (f"SELECT {keyexpr} AS k, COUNT(*) AS cnt FROM {t} "
                f"WHERE {self.preds(t, n=1)} "
                f"GROUP BY {keyexpr} ORDER BY k NULLS FIRST")

    # --- block-B templates (cases 50+; block A stays byte-stable) -------

    def t_having_sum(self):
        """HAVING on the decimal-exact SUM, not just COUNT."""
        t, num = self.r.choice([("lineitem", "l_quantity"), ("orders", "o_totalprice"),
                                ("customer", "c_acctbal"), ("events", "value")])
        key = self.r.choice(cols_of(t, "s"))
        thresh = self.r.randrange(50, 5000)
        return (f"SELECT {key} AS k, {sum_of(num, t)} AS total FROM {t} "
                f"WHERE {self.preds(t, n=1)} GROUP BY {key} "
                f"HAVING SUM(CAST({num} AS DECIMAL(38,6))) > {thresh} "
                f"ORDER BY k NULLS FIRST")

    def t_in_subquery(self):
        """(NOT) IN uncorrelated subquery — the agent's J3 idiom. The
        subquery selects a key column that is non-null by schema, so
        NOT IN's null-poisoning semantics (identical in both engines,
        but a correctness trap) cannot zero the result."""
        neg = self.r.choice(["", "NOT "])
        l, rt, lk, rk = self.r.choice([
            ("customer", "orders", "c_custkey", "o_custkey"),
            ("part", "lineitem", "p_partkey", "l_partkey"),
            ("supplier", "lineitem", "s_suppkey", "l_suppkey"),
            ("nation", "customer", "n_nationkey", "c_nationkey"),
        ])
        cs = self.r.sample(cols_of(l), min(len(COLS[l]), 3))
        sel = ", ".join(f"{ref(c, l)} AS {c}" for c in cs)
        order = ", ".join(f"{c} NULLS FIRST" for c in cs)
        return (f"SELECT {sel} FROM {l} WHERE {self.preds(l, n=1)} "
                f"AND {lk} {neg}IN (SELECT {rk} FROM {rt} "
                f"WHERE {self.preds(rt, n=1)}) "
                f"ORDER BY {order} LIMIT 200")

    def t_join3(self):
        """Three-table FK chain + rollup. The group key comes from the
        far table and the aggregate from the fact side; `owner` names
        which alias carries the second join key."""
        chain = self.r.choice([
            # (t1, t2, k12l, k12r, t3, owner, k13l, k13r, groupkey-on-c, num-on-a)
            ("lineitem", "orders", "l_orderkey", "o_orderkey",
             "customer", "b", "o_custkey", "c_custkey", "c_mktsegment", "l_quantity"),
            ("lineitem", "part", "l_partkey", "p_partkey",
             "supplier", "a", "l_suppkey", "s_suppkey", "p_brand", "l_extendedprice"),
            ("customer", "nation", "c_nationkey", "n_nationkey",
             "region", "b", "n_regionkey", "r_regionkey", "r_name", "c_acctbal"),
        ])
        (t1, t2, k12l, k12r, t3, owner, k13l, k13r, gkey, num) = chain
        galias = "b" if gkey in cols_of(t2) else "c"
        inner = sum_of(num, t1).replace(f"CAST({num} ", f"CAST(a.{num} ") \
                               .replace(f"SUM({num})", f"SUM(a.{num})")
        return (f"SELECT {galias}.{gkey} AS {gkey}, COUNT(*) AS cnt, {inner} AS total "
                f"FROM {t1} a JOIN {t2} b ON a.{k12l} = b.{k12r} "
                f"JOIN {t3} c ON {owner}.{k13l} = c.{k13r} "
                f"WHERE {self.preds(t1, 'a', n=1)} "
                f"GROUP BY {galias}.{gkey} ORDER BY {gkey} NULLS FIRST")

    def t_like_wild(self):
        """LIKE with the '_' single-char wildcard (both engines: exactly
        one character)."""
        t, c, pat = self.r.choice([
            ("orders", "o_orderpriority", "_-LOW"),
            ("orders", "o_orderpriority", "%-_IGH"),
            ("part", "p_brand", "Brand#_"),
            ("part", "p_brand", "Brand#1_"),
            ("customer", "c_mktsegment", "_UILDING"),
            ("documents", "lang", "_e"),
        ])
        cs = self.r.sample(cols_of(t), min(len(COLS[t]), 3))
        sel = ", ".join(f"{ref(cc, t)} AS {cc}" for cc in cs)
        order = ", ".join(f"{cc} NULLS FIRST" for cc in cs)
        return (f"SELECT {sel} FROM {t} WHERE {c} LIKE '{pat}' "
                f"AND {self.preds(t, n=1)} ORDER BY {order} LIMIT 200")

    def t_nullif_key(self):
        """COALESCE(NULLIF(...)) group key — null-injection + recovery."""
        t, c, victim = self.r.choice([
            ("orders", "o_orderstatus", "O"),
            ("lineitem", "l_returnflag", "N"),
            ("customer", "c_mktsegment", "BUILDING"),
            ("events", "event_type", "view"),
        ])
        key = f"COALESCE(NULLIF({c}, '{victim}'), 'norm_{victim}')"
        return (f"SELECT {key} AS k, COUNT(*) AS cnt FROM {t} "
                f"WHERE {self.preds(t, n=1)} GROUP BY {key} "
                f"ORDER BY k NULLS FIRST")

    def t_multi_distinct(self):
        """Two COUNT(DISTINCT) in one aggregate (Spark plans Expand)."""
        t, a, b2 = self.r.choice([
            ("lineitem", "l_returnflag", "l_linestatus"),
            ("orders", "o_orderstatus", "o_orderpriority"),
            ("events", "event_type", "user_id"),
            ("documents", "lang", "source"),
        ])
        key = self.r.choice([c for c in cols_of(t, "s") if c not in (a, b2)]
                            or cols_of(t, "i"))
        return (f"SELECT {key} AS k, COUNT(DISTINCT {a}) AS d1, "
                f"COUNT(DISTINCT {b2}) AS d2, COUNT(*) AS cnt FROM {t} "
                f"WHERE {self.preds(t, n=1)} GROUP BY {key} "
                f"ORDER BY k NULLS FIRST")

    def t_rank_window(self):
        """RANK/DENSE_RANK over a non-unique order — tie groups share a
        rank in both engines; outer order stays total via the unique id."""
        fn = self.r.choice(["RANK()", "DENSE_RANK()"])
        t, part, ordc, uniq = self.r.choice([
            ("orders", "o_orderstatus", "o_orderpriority", "o_orderkey"),
            ("lineitem", "l_returnflag", "l_linestatus", "l_orderkey"),
            ("customer", "c_mktsegment", "c_nationkey", "c_custkey"),
        ])
        k = self.r.choice([1, 2])
        return (f"SELECT {part}, {ordc}, {uniq}, rnk FROM ("
                f"SELECT {part}, {ordc}, {uniq}, {fn} OVER (PARTITION BY {part} "
                f"ORDER BY {ordc} NULLS FIRST) AS rnk "
                f"FROM {t} WHERE {self.preds(t, n=1)}) t WHERE rnk <= {k} "
                f"ORDER BY {part} NULLS FIRST, {ordc} NULLS FIRST, "
                f"{uniq} NULLS FIRST LIMIT 300")

    def t_lag_window(self):
        """LAG over a unique order — deltas between consecutive rows.

        FOUND DIVERGENCE (round-9 sweep, seed 31337): the original third
        branch ordered lineitem's window by l_orderkey, which is NOT
        unique there (multiple lines per order) — LAG across a tie reads
        whichever tied row the engine happened to sort adjacent, and
        Spark/DuckDB disagree. Window ORDER BY keys must be unique
        within the partition; the branch now uses customer (c_custkey is
        a key). Same branch COUNT, so the frozen blocks' RNG streams are
        untouched (no committed case had drawn the lineitem branch —
        verified byte-identical regeneration). Lesson pinned Spark-side
        in SqlFuzzSpec ("window order keys must be unique").
        """
        t, part, ordc, num = self.r.choice([
            ("orders", "o_orderstatus", "o_orderkey", "o_totalprice"),
            ("events", "event_type", "event_id", "value"),
            ("customer", "c_mktsegment", "c_custkey", "c_acctbal"),
        ])
        return (f"SELECT {part}, {ordc}, delta FROM ("
                f"SELECT {part}, {ordc}, CAST(CAST({num} AS DECIMAL(38,6)) - "
                f"LAG(CAST({num} AS DECIMAL(38,6)), 1) OVER (PARTITION BY {part} "
                f"ORDER BY {ordc} NULLS FIRST) AS DOUBLE) AS delta "
                f"FROM {t} WHERE {self.preds(t, n=1)}) t "
                f"ORDER BY {part} NULLS FIRST, {ordc} NULLS FIRST LIMIT 300")

    def t_cond_agg(self):
        """SUM(CASE WHEN ...) conditional aggregation (pivot-style)."""
        t, flag, vals, num = self.r.choice([
            ("lineitem", "l_returnflag", ["R", "A"], "l_quantity"),
            ("orders", "o_orderstatus", ["P", "O"], "o_totalprice"),
            ("events", "event_type", ["click", "purchase"], "value"),
        ])
        v1, v2 = self.r.sample(vals, 2) if len(vals) > 1 else (vals[0], vals[0])
        key = self.r.choice([c for c in cols_of(t, "s") if c != flag])
        def branch(v):
            return (f"CAST(SUM(CASE WHEN {flag} = '{v}' "
                    f"THEN CAST({num} AS DECIMAL(38,6)) ELSE CAST(0 AS DECIMAL(38,6)) "
                    f"END) AS DOUBLE)")
        return (f"SELECT {key} AS k, {branch(v1)} AS sum_{v1.lower()}, "
                f"{branch(v2)} AS sum_other, COUNT(*) AS cnt FROM {t} "
                f"WHERE {self.preds(t, n=1)} GROUP BY {key} "
                f"ORDER BY k NULLS FIRST")

    # --- block-C templates (cases 80+; blocks A/B stay byte-stable) -----

    def t_rollup(self):
        """GROUP BY ROLLUP with GROUPING() markers — subtotal rows carry
        NULL keys, so the pinned NULLS FIRST ordering and the grouping
        ids together keep the output total-ordered in both engines."""
        t, k1, k2, num = self.r.choice([
            ("lineitem", "l_returnflag", "l_linestatus", "l_quantity"),
            ("orders", "o_orderstatus", "o_orderpriority", "o_totalprice"),
            ("customer", "c_mktsegment", "c_nationkey", "c_acctbal"),
            ("documents", "lang", "source", "n_chars"),
        ])
        return (f"SELECT {k1} AS k1, {k2} AS k2, "
                f"CAST(GROUPING({k1}) AS INTEGER) AS g1, "
                f"CAST(GROUPING({k2}) AS INTEGER) AS g2, "
                f"COUNT(*) AS cnt, {sum_of(num, t)} AS total "
                f"FROM {t} WHERE {self.preds(t, n=1)} "
                f"GROUP BY ROLLUP({k1}, {k2}) "
                f"ORDER BY g1 NULLS FIRST, g2 NULLS FIRST, "
                f"k1 NULLS FIRST, k2 NULLS FIRST")

    def t_setop(self):
        """INTERSECT / EXCEPT (both engines: DISTINCT semantics)."""
        op = self.r.choice(["INTERSECT", "EXCEPT"])
        l, rt, lk, rk = self.r.choice([
            ("customer", "supplier", "c_nationkey", "s_nationkey"),
            ("orders", "lineitem", "o_orderkey", "l_orderkey"),
            ("part", "lineitem", "p_partkey", "l_partkey"),
        ])
        return (f"SELECT k FROM (SELECT {lk} AS k FROM {l} "
                f"WHERE {self.preds(l, n=1)} "
                f"{op} SELECT {rk} AS k FROM {rt} WHERE {self.preds(rt, n=1)}) u "
                f"ORDER BY k NULLS FIRST LIMIT 500")

    def t_full_outer_agg(self):
        """FULL OUTER JOIN of two pre-aggregated sides + COALESCE'd key —
        null keys appear on BOTH sides."""
        spec = self.r.choice([
            ("customer", "c_nationkey", "supplier", "s_nationkey"),
            ("orders", "o_custkey", "customer", "c_custkey"),
            ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
        ])
        t1, k1, t2, k2 = spec
        return (f"SELECT COALESCE(a.k, b.k) AS k, "
                f"COALESCE(a.cnt, 0) AS cnt_left, COALESCE(b.cnt, 0) AS cnt_right "
                f"FROM (SELECT {k1} AS k, COUNT(*) AS cnt FROM {t1} "
                f"WHERE {self.preds(t1, n=1)} GROUP BY {k1}) a "
                f"FULL OUTER JOIN (SELECT {k2} AS k, COUNT(*) AS cnt FROM {t2} "
                f"WHERE {self.preds(t2, n=1)} GROUP BY {k2}) b ON a.k = b.k "
                f"ORDER BY k NULLS FIRST LIMIT 500")

    def t_self_join(self):
        """Self-join pair counting (o1.key < o2.key de-dups the pairs)."""
        t, grp, uniq = self.r.choice([
            ("orders", "o_custkey", "o_orderkey"),
            ("lineitem", "l_orderkey", "l_linenumber"),
            ("events", "user_id", "event_id"),
        ])
        return (f"SELECT a.{grp} AS grp, COUNT(*) AS n_pairs "
                f"FROM {t} a JOIN {t} b ON a.{grp} = b.{grp} "
                f"AND a.{uniq} < b.{uniq} "
                f"WHERE {self.preds(t, 'a', n=1)} "
                f"GROUP BY a.{grp} HAVING COUNT(*) > {self.r.randrange(1, 4)} "
                f"ORDER BY grp NULLS FIRST LIMIT 500")

    def t_distinct_proj(self):
        """SELECT DISTINCT multi-column projection."""
        t = self.r.choice(["orders", "lineitem", "customer", "part", "events"])
        cs = self.r.sample(cols_of(t, "s") + cols_of(t, "i"),
                           self.r.choice([2, 2, 3]))
        sel = ", ".join(f"{ref(c, t)} AS {c}" for c in cs)
        order = ", ".join(f"{c} NULLS FIRST" for c in cs)
        return (f"SELECT DISTINCT {sel} FROM {t} WHERE {self.preds(t, n=1)} "
                f"ORDER BY {order} LIMIT 500")

    def t_two_level_agg(self):
        """Aggregate over a grouped subquery (integer sums stay exact
        through both levels)."""
        t, inner_key, num = self.r.choice([
            ("lineitem", "l_orderkey", "l_linenumber"),
            ("orders", "o_custkey", "o_orderkey"),
            ("events", "user_id", "event_id"),
            ("documents", "lang", "n_chars"),
        ])
        return (f"SELECT n_rows, COUNT(*) AS n_groups, "
                f"CAST(SUM(total) AS BIGINT) AS grand_total FROM ("
                f"SELECT {inner_key} AS k, COUNT(*) AS n_rows, "
                f"CAST(SUM({num}) AS BIGINT) AS total FROM {t} "
                f"WHERE {self.preds(t, n=1)} GROUP BY {inner_key}) g "
                f"GROUP BY n_rows ORDER BY n_rows NULLS FIRST")

    def t_orderby_case(self):
        """ORDER BY a CASE expression (custom collation idiom), unique
        trailing key keeps the order total."""
        t, c, vals, uniq = self.r.choice([
            ("orders", "o_orderstatus", ["P", "O", "F"], "o_orderkey"),
            ("lineitem", "l_returnflag", ["R", "A", "N"], "l_orderkey"),
            ("customer", "c_mktsegment", ["BUILDING", "MACHINERY"], "c_custkey"),
        ])
        v = self.r.choice(vals)
        return (f"SELECT {c} AS c, {uniq} AS u FROM {t} "
                f"WHERE {self.preds(t, n=1)} "
                f"ORDER BY CASE WHEN {c} = '{v}' THEN 0 ELSE 1 END NULLS FIRST, "
                f"c NULLS FIRST, u NULLS FIRST LIMIT 300")

    def t_greatest_least(self):
        """GREATEST/LEAST over non-null integer expressions as group key."""
        t, a, b2 = self.r.choice([
            ("lineitem", "l_linenumber", "l_suppkey"),
            ("customer", "c_nationkey", "c_custkey"),
            ("part", "p_size", "p_partkey"),
        ])
        m = self.r.randrange(3, 9)
        key = self.r.choice([
            f"GREATEST({a} % {m}, {b2} % {m})",
            f"LEAST({a} % {m}, {b2} % {m})",
        ])
        return (f"SELECT {key} AS k, COUNT(*) AS cnt FROM {t} "
                f"WHERE {self.preds(t, n=1)} GROUP BY {key} "
                f"ORDER BY k NULLS FIRST")

    def t_datefun(self):
        """Date-function rollup (prompt: date(target_dt) family)."""
        t, c = self.r.choice([("orders", "o_orderdate"), ("lineitem", "l_shipdate")])
        kind = self.r.choice(["year", "month", "ym"])
        if kind == "year":
            key = f"YEAR(CAST({c} AS DATE))"
        elif kind == "month":
            key = f"MONTH(CAST({c} AS DATE))"
        else:
            key = (f"CONCAT(CAST(YEAR(CAST({c} AS DATE)) AS STRING), '-', "
                   f"CAST(MONTH(CAST({c} AS DATE)) AS STRING))")
        num = self.r.choice(cols_of(t, "d"))
        return (f"SELECT {key} AS k, COUNT(*) AS cnt, {sum_of(num, t)} AS total "
                f"FROM {t} WHERE {self.preds(t)} "
                f"GROUP BY {key} ORDER BY k NULLS FIRST")


    # --- block-D templates (cases 105+; blocks A/B/C stay byte-stable) --

    def t_ntile(self):
        """NTILE quartiles over a total order, re-aggregated — bucket
        boundary arithmetic (first n_rows % n buckets get the extra row)
        must agree between engines."""
        t, c, uniq = self.r.choice([
            ("orders", "o_totalprice", "o_orderkey"),
            ("customer", "c_acctbal", "c_custkey"),
            ("part", "p_retailprice", "p_partkey"),
        ])
        n = self.r.choice([3, 4, 5])
        return (f"SELECT q, COUNT(*) AS cnt, "
                f"CAST(SUM(CAST({c} AS DECIMAL(38,6))) AS DOUBLE) AS total "
                f"FROM (SELECT {c}, NTILE({n}) OVER (ORDER BY {c} NULLS FIRST, "
                f"{uniq} NULLS FIRST) AS q FROM {t} WHERE {self.preds(t, n=1)}) b "
                f"GROUP BY q ORDER BY q NULLS FIRST")

    def t_first_last(self):
        """FIRST_VALUE/LAST_VALUE with an explicit full frame, collapsed
        by DISTINCT — per-group extremes via window rather than agg."""
        t, part, c, uniq = self.r.choice([
            ("orders", "o_orderstatus", "o_totalprice", "o_orderkey"),
            ("lineitem", "l_returnflag", "l_extendedprice", "l_orderkey"),
            ("customer", "c_mktsegment", "c_acctbal", "c_custkey"),
        ])
        frame = ("ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING")
        order = f"ORDER BY {c} NULLS FIRST, {uniq} NULLS FIRST"
        return (f"SELECT DISTINCT {part} AS k, "
                f"FIRST_VALUE({uniq}) OVER (PARTITION BY {part} {order} {frame}) AS lo_id, "
                f"LAST_VALUE({uniq}) OVER (PARTITION BY {part} {order} {frame}) AS hi_id "
                f"FROM {t} WHERE {self.preds(t, n=1)} "
                f"ORDER BY k NULLS FIRST, lo_id NULLS FIRST, hi_id NULLS FIRST")

    def t_running_sum(self):
        """Running integer SUM over an explicit ROWS frame (exact at any
        prefix) + ROW_NUMBER for a total order."""
        # lineitem branch removed for the same round-9 sweep lesson as
        # t_lag_window: l_orderkey is non-unique in lineitem, so the
        # ROWS frame's prefix sums depend on within-tie order
        t, part, num, uniq = self.r.choice([
            ("customer", "c_mktsegment", "c_nationkey", "c_custkey"),
            ("orders", "o_orderstatus", "o_custkey", "o_orderkey"),
            ("events", "event_type", "user_id", "event_id"),
        ])
        return (f"SELECT part, u, CAST(run AS BIGINT) AS run FROM ("
                f"SELECT {part} AS part, {uniq} AS u, "
                f"SUM({num}) OVER (PARTITION BY {part} ORDER BY {uniq} NULLS FIRST "
                f"ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run "
                f"FROM {t} WHERE {self.preds(t, n=1)}) s "
                f"ORDER BY part NULLS FIRST, u NULLS FIRST LIMIT 300")

    def t_percent_rank(self):
        """PERCENT_RANK/CUME_DIST — rank-count ratios, one IEEE division
        of exact integers in both engines."""
        t, part, c, uniq = self.r.choice([
            ("orders", "o_orderstatus", "o_totalprice", "o_orderkey"),
            ("customer", "c_mktsegment", "c_acctbal", "c_custkey"),
            ("supplier", None, "s_acctbal", "s_suppkey"),
        ])
        over = (f"PARTITION BY {part} " if part else "") + \
               f"ORDER BY {c} NULLS FIRST, {uniq} NULLS FIRST"
        fn = self.r.choice(["PERCENT_RANK", "CUME_DIST"])
        inner_sel = (f"{part} AS part, " if part else "") + \
            f"{uniq} AS u, {fn}() OVER ({over}) AS pr"
        outer_sel = ("part, " if part else "") + "u, pr"
        porder = "part NULLS FIRST, " if part else ""
        return (f"SELECT {outer_sel} FROM (SELECT {inner_sel} "
                f"FROM {t} WHERE {self.preds(t, n=1)}) s WHERE pr <= 0.5 "
                f"ORDER BY {porder}u NULLS FIRST LIMIT 300")

    def t_limit_offset(self):
        """ORDER BY … LIMIT n OFFSET m pagination (the reference's S9
        paginated-scan idiom expressed in SQL)."""
        t = self.r.choice(["orders", "lineitem", "customer", "part"])
        cs = self.r.sample(cols_of(t), 3)
        sel = ", ".join(f"{ref(c, t)} AS {c}" for c in cs)
        order = ", ".join(f"{c} NULLS FIRST" for c in cs)
        off = self.r.choice([10, 50, 100])
        return (f"SELECT {sel} FROM {t} WHERE {self.preds(t, n=1)} "
                f"ORDER BY {order} LIMIT 200 OFFSET {off}")

    def t_is_distinct(self):
        """IS (NOT) DISTINCT FROM over NULLIF-nulled keys — null-safe
        equality semantics."""
        t, a, av, b2, bv = self.r.choice([
            ("lineitem", "l_returnflag", "N", "l_linestatus", "F"),
            ("orders", "o_orderstatus", "O", "o_orderpriority", "5-LOW"),
        ])
        neg = self.r.choice(["", "NOT "])
        return (f"SELECT {a} AS a, {b2} AS b, COUNT(*) AS cnt FROM {t} "
                f"WHERE NULLIF({a}, '{av}') IS {neg}DISTINCT FROM "
                f"NULLIF({b2}, '{bv}') AND {self.preds(t, n=1)} "
                f"GROUP BY {a}, {b2} "
                f"ORDER BY a NULLS FIRST, b NULLS FIRST")

    def t_pad_trim(self):
        """LPAD/RPAD/RTRIM/REVERSE group keys — pad-and-truncate string
        semantics."""
        t, c, i = self.r.choice([
            ("customer", "c_name", "c_nationkey"),
            ("supplier", "s_name", "s_nationkey"),
            ("part", "p_brand", "p_size"),
        ])
        keyexpr = self.r.choice([
            f"LPAD(CAST({i} AS STRING), 4, '0')",
            f"RPAD(SUBSTR({c}, 1, 3), 5, '_')",
            f"REVERSE(SUBSTR({c}, 1, {self.r.randrange(2, 4)}))",
            f"RTRIM(SUBSTR({c}, 1, {self.r.randrange(3, 6)}))",
        ])
        return (f"SELECT {keyexpr} AS k, COUNT(*) AS cnt FROM {t} "
                f"WHERE {self.preds(t, n=1)} GROUP BY {keyexpr} "
                f"ORDER BY k NULLS FIRST")

    def t_corr_scalar_select(self):
        """Correlated scalar COUNT subquery in the SELECT list (0 for
        childless parents — the COUNT-in-scalar-subquery corner)."""
        l, rt, lk, rk = self.r.choice([
            ("customer", "orders", "c_custkey", "o_custkey"),
            ("orders", "lineitem", "o_orderkey", "l_orderkey"),
            ("supplier", "lineitem", "s_suppkey", "l_suppkey"),
        ])
        sub = self.preds(rt, "i", n=1)
        return (f"SELECT o.{lk} AS id, "
                f"(SELECT COUNT(*) FROM {rt} i WHERE i.{rk} = o.{lk} "
                f"AND {sub}) AS n_children "
                f"FROM {l} o WHERE {self.preds(l, 'o', n=1)} "
                f"ORDER BY id NULLS FIRST LIMIT 300")

    def t_cte_chain(self):
        """Two-level CTE chain: filter → aggregate → re-filter/join back."""
        t, key, num = self.r.choice([
            ("orders", "o_custkey", "o_orderkey"),
            ("lineitem", "l_orderkey", "l_linenumber"),
            ("events", "user_id", "event_id"),
        ])
        thr = self.r.randrange(2, 5)
        return (f"WITH base AS (SELECT {key} AS k, {num} AS u FROM {t} "
                f"WHERE {self.preds(t, n=1)}), "
                f"agg AS (SELECT k, COUNT(*) AS n_rows, "
                f"CAST(SUM(u) AS BIGINT) AS total FROM base GROUP BY k) "
                f"SELECT k, n_rows, total FROM agg WHERE n_rows >= {thr} "
                f"ORDER BY k NULLS FIRST LIMIT 500")


    # --- block-E templates (cases 125+; blocks A-D stay byte-stable) ---

    def t_join_using(self):
        """JOIN … USING — shared-column join syntax (single output copy
        of the key in both engines)."""
        l, rt, lk, rk = self.r.choice([
            ("orders", "customer", "o_custkey", "c_custkey"),
            ("lineitem", "part", "l_partkey", "p_partkey"),
        ])
        num = self.r.choice(cols_of(l, "d"))
        # the join side keeps a guaranteed-nonempty integer predicate:
        # string-vocabulary predicates on BOTH sides empty the join too
        # often for the shared round-robin RNG stream to ever accept one
        return (f"SELECT k, COUNT(*) AS cnt, "
                f"CAST(SUM(CAST({num} AS DECIMAL(38,6))) AS DOUBLE) AS total "
                f"FROM (SELECT {lk} AS k, {num} FROM {l} "
                f"WHERE {self.preds(l, n=1)}) a "
                f"JOIN (SELECT {rk} AS k FROM {rt} "
                f"WHERE {rk} % {self.r.randrange(2, 5)} = 0) b "
                f"USING (k) GROUP BY k ORDER BY k NULLS FIRST LIMIT 500")

    def t_lateral(self):
        """LATERAL correlated subquery — per-row top-1 child lookup."""
        l, rt, lk, rk, rnum = self.r.choice([
            ("customer", "orders", "c_custkey", "o_custkey", "o_totalprice"),
            ("supplier", "lineitem", "s_suppkey", "l_suppkey", "l_extendedprice"),
        ])
        return (f"SELECT o.{lk} AS id, CAST(t.m AS DOUBLE) AS best FROM {l} o, "
                f"LATERAL (SELECT MAX(CAST({rnum} AS DECIMAL(38,6))) AS m "
                f"FROM {rt} i WHERE i.{rk} = o.{lk}) t "
                f"WHERE {self.preds(l, 'o', n=1)} AND t.m IS NOT NULL "
                f"ORDER BY id NULLS FIRST LIMIT 300")

    def t_grouping_sets(self):
        """Explicit GROUPING SETS (named subtotal combinations)."""
        t, k1, k2, num = self.r.choice([
            ("lineitem", "l_returnflag", "l_linestatus", "l_quantity"),
            ("orders", "o_orderstatus", "o_orderpriority", "o_totalprice"),
        ])
        return (f"SELECT {k1} AS k1, {k2} AS k2, "
                f"CAST(GROUPING({k1}) AS INTEGER) AS g1, "
                f"CAST(GROUPING({k2}) AS INTEGER) AS g2, COUNT(*) AS cnt, "
                f"CAST(SUM(CAST({num} AS DECIMAL(38,6))) AS DOUBLE) AS total "
                f"FROM {t} WHERE {self.preds(t, n=1)} "
                f"GROUP BY GROUPING SETS (({k1}), ({k2}), ({k1}, {k2})) "
                f"ORDER BY g1 NULLS FIRST, g2 NULLS FIRST, "
                f"k1 NULLS FIRST, k2 NULLS FIRST")

    def t_except_all(self):
        """EXCEPT ALL / INTERSECT ALL — multiset set-ops (bag semantics
        differ from the DISTINCT forms when duplicates exist)."""
        op = self.r.choice(["EXCEPT ALL", "INTERSECT ALL"])
        l, rt, lk, rk = self.r.choice([
            ("lineitem", "orders", "l_orderkey", "o_orderkey"),
            ("orders", "customer", "o_custkey", "c_custkey"),
        ])
        return (f"SELECT k, COUNT(*) AS cnt FROM ("
                f"SELECT {lk} AS k FROM {l} WHERE {self.preds(l, n=1)} "
                f"{op} SELECT {rk} AS k FROM {rt} WHERE {self.preds(rt, n=1)}) u "
                f"GROUP BY k ORDER BY k NULLS FIRST, cnt NULLS FIRST LIMIT 500")

    def t_range_frame(self):
        """RANGE frame with a numeric offset — value-based window bounds
        (peers included by VALUE distance, not row position). `uniq`
        must be genuinely unique: the first cut used lineitem's
        l_orderkey, which repeats per line — the output ORDER BY was
        not total, so the LIMIT kept a DIFFERENT row multiset per
        engine (found as a q_sql_fuzz_140 hash mismatch, row "nearby"
        1212 vs 403 — the frame itself agreed everywhere)."""
        t, part, ordc, uniq = self.r.choice([
            ("customer", "c_mktsegment", "c_acctbal", "c_custkey"),
            ("orders", "o_orderstatus", "o_custkey", "o_orderkey"),
        ])
        off = self.r.randrange(2, 10)
        return (f"SELECT part, u, CAST(nearby AS BIGINT) AS nearby FROM ("
                f"SELECT {part} AS part, {uniq} AS u, "
                f"COUNT(*) OVER (PARTITION BY {part} ORDER BY {ordc} "
                f"RANGE BETWEEN {off} PRECEDING AND CURRENT ROW) AS nearby "
                f"FROM {t} WHERE {self.preds(t, n=1)}) s "
                f"ORDER BY part NULLS FIRST, u NULLS FIRST LIMIT 300")

    def t_global_having(self):
        """HAVING on a global aggregate (no GROUP BY): one row or zero."""
        t, num = self.r.choice([
            ("orders", "o_totalprice"), ("lineitem", "l_extendedprice"),
            ("customer", "c_acctbal"),
        ])
        return (f"SELECT COUNT(*) AS cnt, "
                f"CAST(SUM(CAST({num} AS DECIMAL(38,6))) AS DOUBLE) AS total "
                f"FROM {t} WHERE {self.preds(t, n=1)} HAVING COUNT(*) > 1")

    # --- block-F templates (cases 149+; round-10 multi-join widening —
    # randomized coverage for the join-reorder / AQE planning paths the
    # hand-written q9/q18/q21 exercise; blocks A-E stay byte-stable) ----

    def sum_alias(self, c, t, a):
        """sum_of with an explicit table alias on the column."""
        k = dict(COLS[t])[c]
        if k == "d":
            return f"CAST(SUM(CAST({a}.{c} AS DECIMAL(38,6))) AS DOUBLE)"
        return f"CAST(SUM({a}.{c}) AS BIGINT)"

    def t_star_join(self):
        """Star: lineitem fact + 2-3 independent dims, grouped by two dim
        attributes — the q9 shape with randomized dim picks/predicates."""
        num = self.r.choice(["l_quantity", "l_extendedprice", "l_discount"])
        dims = [
            ("part", "l_partkey", "p_partkey",
             self.r.choice(["p_brand", "p_type"])),
            ("supplier", "l_suppkey", "s_suppkey", "s_nationkey"),
            ("orders", "l_orderkey", "o_orderkey",
             self.r.choice(["o_orderstatus", "o_orderpriority"])),
        ]
        picked = self.r.sample(dims, self.r.choice([2, 3]))
        joins = " ".join(
            f"JOIN {t} d{i} ON f.{lk} = d{i}.{rk}"
            for i, (t, lk, rk, _) in enumerate(picked))
        gk = [(f"d{i}.{attr}", attr) for i, (_, _, _, attr) in enumerate(picked)][:2]
        sel = ", ".join(f"{k} AS {n}" for k, n in gk)
        order = ", ".join(f"{n} NULLS FIRST" for _, n in gk)
        return (f"SELECT {sel}, COUNT(*) AS cnt, "
                f"{self.sum_alias(num, 'lineitem', 'f')} AS total "
                f"FROM lineitem f {joins} "
                f"WHERE {self.preds('lineitem', 'f', n=1)} "
                f"GROUP BY {', '.join(k for k, _ in gk)} ORDER BY {order}")

    def t_chain4(self):
        """4-table FK chain fact→orders→customer→nation with predicates
        spread across two levels of the chain."""
        num = self.r.choice(["l_quantity", "l_extendedprice"])
        extra = self.r.choice(["", f" AND {self.predicate('customer', 'c')}"])
        return (f"SELECT n.n_name AS n_name, COUNT(*) AS cnt, "
                f"{self.sum_alias(num, 'lineitem', 'l')} AS total "
                f"FROM lineitem l "
                f"JOIN orders o ON l.l_orderkey = o.o_orderkey "
                f"JOIN customer c ON o.o_custkey = c.c_custkey "
                f"JOIN nation n ON c.c_nationkey = n.n_nationkey "
                f"WHERE {self.preds('lineitem', 'l', n=1)}{extra} "
                f"GROUP BY n.n_name ORDER BY n_name NULLS FIRST")

    def t_snowflake(self):
        """Snowflake: orders fact + customer→nation→region dim chain,
        grouped by region name × an orders attribute (the q5 dim-chain
        shape with a second grouping level)."""
        okey = self.r.choice(["o_orderstatus", "o_orderpriority"])
        num = "o_totalprice"
        jt = self.r.choice(["JOIN", "JOIN", "LEFT JOIN"])
        return (f"SELECT r.r_name AS r_name, o.{okey} AS {okey}, "
                f"COUNT(*) AS cnt, {self.sum_alias(num, 'orders', 'o')} AS total "
                f"FROM orders o "
                f"JOIN customer c ON o.o_custkey = c.c_custkey "
                f"{jt} nation n ON c.c_nationkey = n.n_nationkey "
                f"{jt} region r ON n.n_regionkey = r.r_regionkey "
                f"WHERE {self.preds('orders', 'o', n=1)} "
                f"GROUP BY r.r_name, o.{okey} "
                f"ORDER BY r_name NULLS FIRST, {okey} NULLS FIRST")

    def t_join_semi_mix(self):
        """Two-join rollup PLUS a correlated EXISTS on a third fact — the
        q21 mixed semi/join plan under randomized predicates."""
        neg = self.r.choice(["", "NOT "])
        return (f"SELECT n.n_name AS n_name, COUNT(*) AS cnt "
                f"FROM customer c "
                f"JOIN nation n ON c.c_nationkey = n.n_nationkey "
                f"JOIN orders o ON o.o_custkey = c.c_custkey "
                f"WHERE {self.preds('orders', 'o', n=1)} "
                f"AND {neg}EXISTS (SELECT 1 FROM lineitem i "
                f"WHERE i.l_orderkey = o.o_orderkey "
                f"AND {self.predicate('lineitem', 'i')}) "
                f"GROUP BY n.n_name ORDER BY n_name NULLS FIRST")

    # --- block-G templates (cases 164+; round-11 widening — verdict #7:
    # the F cases are all INNER star/chain shapes; these cover the
    # planner paths agent SQL hits next: null-extending outer chains,
    # FULL OUTER + dim enrichment, windows OVER a join result, and
    # aggregation over a join over an aggregation) -----------------------

    def t_outer_chain(self):
        """customer LEFT JOIN orders LEFT JOIN lineitem — TWO levels of
        null extension, fact predicates in the ON clause (so they filter
        the match, not the preserved side), childless counted via
        IS NULL."""
        on_o = self.r.choice(["", f" AND {self.predicate('orders', 'o')}"])
        on_l = self.r.choice(["", f" AND {self.predicate('lineitem', 'l')}"])
        return (f"SELECT c.c_mktsegment AS seg, COUNT(*) AS cnt, "
                f"CAST(SUM(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS childless, "
                f"CAST(SUM(CAST(COALESCE(l.l_quantity, 0) AS DECIMAL(38,6))) AS DOUBLE) AS qty "
                f"FROM customer c "
                f"LEFT JOIN orders o ON o.o_custkey = c.c_custkey{on_o} "
                f"LEFT JOIN lineitem l ON l.l_orderkey = o.o_orderkey{on_l} "
                f"WHERE {self.preds('customer', 'c', n=1)} "
                f"GROUP BY c.c_mktsegment ORDER BY seg NULLS FIRST")

    def t_full_outer_dim(self):
        """FULL OUTER of two pre-aggregated sides + a LEFT dim join on
        the COALESCE'd key — three joins with both null-extension
        directions live."""
        t1, k1, t2, k2 = self.r.choice([
            ("customer", "c_nationkey", "supplier", "s_nationkey"),
            ("supplier", "s_nationkey", "customer", "c_nationkey"),
        ])
        return (f"SELECT COALESCE(n.n_name, 'none') AS nname, "
                f"COALESCE(a.k, b.k) AS k, "
                f"COALESCE(a.cnt, 0) AS cnt_left, COALESCE(b.cnt, 0) AS cnt_right "
                f"FROM (SELECT {k1} AS k, COUNT(*) AS cnt FROM {t1} "
                f"WHERE {self.preds(t1, n=1)} GROUP BY {k1}) a "
                f"FULL OUTER JOIN (SELECT {k2} AS k, COUNT(*) AS cnt FROM {t2} "
                f"WHERE {self.preds(t2, n=1)} GROUP BY {k2}) b ON a.k = b.k "
                f"LEFT JOIN nation n ON n.n_nationkey = COALESCE(a.k, b.k) "
                f"ORDER BY nname NULLS FIRST, k NULLS FIRST LIMIT 500")

    def t_join_window(self):
        """Window OVER a join result: top-k per dim attribute by fact
        value. Tie-break key is unique (o_orderkey), so the rank — and
        the LIMITed multiset — is total in both engines; window ORDER BY
        carries explicit NULLS position like every other ORDER BY in the
        grammar."""
        part, extra_join = self.r.choice([
            ("c.c_mktsegment", ""),
            ("o.o_orderstatus", ""),
            ("n.n_name", " JOIN nation n ON n.n_nationkey = c.c_nationkey"),
        ])
        fn = self.r.choice(["ROW_NUMBER()", "RANK()"])
        kk = self.r.randrange(3, 8)
        return (f"SELECT seg, o_orderkey, rn FROM ("
                f"SELECT {part} AS seg, o.o_orderkey AS o_orderkey, "
                f"{fn} OVER (PARTITION BY {part} "
                f"ORDER BY o.o_totalprice DESC NULLS LAST, o.o_orderkey NULLS FIRST) AS rn "
                f"FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey{extra_join} "
                f"WHERE {self.preds('orders', 'o', n=1)}) s "
                f"WHERE rn <= {kk} "
                f"ORDER BY seg NULLS FIRST, rn NULLS FIRST, o_orderkey NULLS FIRST")

    def t_agg_join_agg(self):
        """Aggregation over a join over an aggregation: per-order line
        rollup joined up the FK chain, then re-aggregated per customer
        attribute — two exchanges with a join between them. The inner
        sum is decimal-exact cast to DOUBLE (one deterministic IEEE
        conversion), the outer re-sum decimal-routes those doubles."""
        inner_num = self.r.choice(["l_quantity", "l_extendedprice"])
        outer_key = self.r.choice(["c.c_mktsegment", "o.o_orderstatus"])
        name = outer_key.split(".")[1]
        return (f"SELECT {outer_key} AS {name}, COUNT(*) AS n_orders, "
                f"CAST(SUM(CAST(la.qty AS DECIMAL(38,6))) AS DOUBLE) AS total "
                f"FROM (SELECT l_orderkey, "
                f"CAST(SUM(CAST({inner_num} AS DECIMAL(38,6))) AS DOUBLE) AS qty "
                f"FROM lineitem WHERE {self.preds('lineitem', n=1)} "
                f"GROUP BY l_orderkey) la "
                f"JOIN orders o ON o.o_orderkey = la.l_orderkey "
                f"JOIN customer c ON c.c_custkey = o.o_custkey "
                f"WHERE {self.preds('orders', 'o', n=1)} "
                f"GROUP BY {outer_key} ORDER BY {name} NULLS FIRST")

    # --- block-I templates (round-12 verdict #5): CORRELATED subqueries —
    # the decorrelation rewrite family (RewriteCorrelatedScalarSubquery /
    # RewritePredicateSubquery) the harness never exercised beyond one
    # hand EXISTS. All correlations are equality on FK keys (the form
    # both engines decorrelate); aggregates in predicates are exact
    # (COUNT / MAX / MIN), so no rounding surface. ----------------------

    FK = [("orders", "lineitem", "o_orderkey", "l_orderkey"),
          ("customer", "orders", "c_custkey", "o_custkey"),
          ("part", "lineitem", "p_partkey", "l_partkey"),
          ("supplier", "lineitem", "s_suppkey", "l_suppkey")]

    def t_corr_scalar_where(self):
        """Correlated MAX/MIN scalar aggregate as a WHERE threshold —
        childless parents compare against NULL and drop in both engines."""
        l, rt, lk, rk = self.r.choice(self.FK)
        inner_num = {"lineitem": ["l_extendedprice", "l_quantity"],
                     "orders": ["o_totalprice"]}[rt]
        num = self.r.choice(inner_num)
        outer_num = {"orders": "o_totalprice", "customer": "c_acctbal",
                     "part": "p_retailprice", "supplier": "s_acctbal"}[l]
        fn = self.r.choice(["MAX", "MIN"])
        op = self.r.choice(["<", ">", "<="])
        return (f"SELECT o.{lk} AS id, o.{outer_num} AS v "
                f"FROM {l} o WHERE {self.preds(l, 'o', n=1)} "
                f"AND o.{outer_num} {op} (SELECT {fn}(i.{num}) FROM {rt} i "
                f"WHERE i.{rk} = o.{lk} AND {self.preds(rt, 'i', n=1)}) "
                f"ORDER BY id NULLS FIRST, v NULLS FIRST LIMIT 300")

    def t_corr_count_where(self):
        """Correlated COUNT(*) subquery in a range predicate — the
        0-for-childless corner INSIDE the filter, not the SELECT list."""
        l, rt, lk, rk = self.r.choice(self.FK)
        lo = self.r.randrange(1, 3)
        hi = lo + self.r.randrange(1, 4)
        cs = self.r.sample(cols_of(l), min(len(COLS[l]), 2))
        sel = ", ".join(f"o.{c} AS {c}" for c in cs)
        order = ", ".join(f"{c} NULLS FIRST" for c in cs)
        return (f"SELECT {sel} FROM {l} o "
                f"WHERE {self.preds(l, 'o', n=1)} "
                f"AND (SELECT COUNT(*) FROM {rt} i WHERE i.{rk} = o.{lk} "
                f"AND {self.preds(rt, 'i', n=1)}) BETWEEN {lo} AND {hi} "
                f"ORDER BY {order} LIMIT 300")

    def t_corr_in(self):
        """Correlated IN: the membership list itself re-filters on the
        outer row's key — IN + correlation composed."""
        l, rt, lk, rk = self.r.choice([
            ("orders", "lineitem", "o_orderkey", "l_orderkey"),
            ("customer", "orders", "c_custkey", "o_custkey")])
        inner_pick = {"lineitem": ("l_linenumber", [1, 2, 3]),
                      "orders": ("o_orderstatus", ["'O'", "'F'"])}[rt]
        c, vals = inner_pick
        v = self.r.choice(vals)
        return (f"SELECT o.{lk} AS id FROM {l} o "
                f"WHERE {self.preds(l, 'o', n=1)} "
                f"AND {v} IN (SELECT i.{c} FROM {rt} i WHERE i.{rk} = o.{lk} "
                f"AND {self.preds(rt, 'i', n=1)}) "
                f"ORDER BY id NULLS FIRST LIMIT 400")

    def t_nested_exists(self):
        """Two-LEVEL EXISTS chain (grandchild correlates to child, child
        to outer) — nested decorrelation."""
        neg1 = self.r.choice(["", "NOT "])
        neg2 = self.r.choice(["", "NOT "])
        return (f"SELECT c.c_custkey AS id, c.c_mktsegment AS seg "
                f"FROM customer c WHERE {self.preds('customer', 'c', n=1)} "
                f"AND {neg1}EXISTS (SELECT 1 FROM orders o "
                f"WHERE o.o_custkey = c.c_custkey "
                f"AND {self.preds('orders', 'o', n=1)} "
                f"AND {neg2}EXISTS (SELECT 1 FROM lineitem l "
                f"WHERE l.l_orderkey = o.o_orderkey "
                f"AND {self.preds('lineitem', 'l', n=1)})) "
                f"ORDER BY id NULLS FIRST, seg NULLS FIRST LIMIT 300")

    def t_exists_not_exists(self):
        """EXISTS against one child table AND NOT EXISTS against another
        — semi and anti decorrelation in ONE predicate tree."""
        l, r1, lk, rk1 = ("orders", "lineitem", "o_orderkey", "l_orderkey")
        return (f"SELECT o.o_orderkey AS id, o.o_orderstatus AS st "
                f"FROM {l} o WHERE {self.preds(l, 'o', n=1)} "
                f"AND EXISTS (SELECT 1 FROM {r1} i WHERE i.{rk1} = o.{lk} "
                f"AND {self.preds(r1, 'i', n=1)}) "
                f"AND NOT EXISTS (SELECT 1 FROM {r1} j WHERE j.{rk1} = o.{lk} "
                f"AND {self.preds(r1, 'j', n=1)}) "
                f"ORDER BY id NULLS FIRST, st NULLS FIRST LIMIT 300")

    def t_corr_scalar_pair(self):
        """TWO correlated COUNT subqueries over the same child compared
        to each other in WHERE — each decorrelates to its own aggregate
        join, then the comparison runs post-join."""
        l, rt, lk, rk = self.r.choice([
            ("orders", "lineitem", "o_orderkey", "l_orderkey"),
            ("customer", "orders", "c_custkey", "o_custkey")])
        op = self.r.choice([">", ">=", "="])
        return (f"SELECT o.{lk} AS id, "
                f"CAST((SELECT COUNT(*) FROM {rt} a WHERE a.{rk} = o.{lk} "
                f"AND {self.preds(rt, 'a', n=1)}) AS BIGINT) AS n_a "
                f"FROM {l} o WHERE {self.preds(l, 'o', n=1)} "
                f"AND (SELECT COUNT(*) FROM {rt} a WHERE a.{rk} = o.{lk} "
                f"AND {self.preds(rt, 'a', n=1)}) {op} "
                f"(SELECT COUNT(*) FROM {rt} b WHERE b.{rk} = o.{lk} "
                f"AND {self.preds(rt, 'b', n=1)}) "
                f"ORDER BY id NULLS FIRST, n_a NULLS FIRST LIMIT 300")


def accept_loop(con, templates, want):
    """Round-robin templates until `want` queries pass the DuckDB sanity
    screen (runs, nonzero bounded rows, no decimal outputs)."""
    out = []
    tries = 0
    while len(out) < want and tries < want * 20:
        tmpl = templates[tries % len(templates)]
        tries += 1
        try:
            sql = tmpl()
        except ValueError:
            # a template drew a table without enough columns of the kind
            # it samples (only reachable under sweep seeds — the frozen
            # block streams never hit it); skip, keep the round-robin
            continue
        try:
            df = con.execute(sql).fetchdf()
        except Exception as e:
            print(f"  skip (oracle error): {e}\n    {sql}", file=sys.stderr)
            continue
        # accept only queries with signal: nonzero rows, bounded size
        if len(df) == 0 or len(df) > 2000:
            continue
        # FOUND DIVERGENCE (round 8, block C): grouping sets over an
        # EMPTY input — DuckDB/Postgres emit the global () grouping-set
        # row (COUNT=0), Spark emits NO rows. A rollup whose WHERE
        # matches nothing passes the rows>0 screen via that phantom row,
        # then hash-mismatches. Excluded from the portable grammar and
        # pinned Spark-side in SqlFuzzSpec ("empty-input grouping sets").
        if "ROLLUP" in sql and "cnt" in df.columns and df["cnt"].sum() == 0:
            print(f"  skip (empty-input grouping sets divergence): {sql}",
                  file=sys.stderr)
            continue
        # no decimal outputs (harness hashes decimals differently per engine)
        if any("decimal" in str(dt).lower() or "object" == str(dt) and
               df[c].map(lambda v: type(v).__name__).eq("Decimal").any()
               for c, dt in df.dtypes.items()):
            print(f"  skip (decimal output): {sql}", file=sys.stderr)
            continue
        out.append((sql, len(df)))
    if len(out) < want:
        sys.exit(f"only {len(out)} viable queries after {tries} tries")
    return out


def generate():
    import duckdb
    con = duckdb.connect()
    for t in COLS:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    # block A (cases 00-49): seed and template list are FROZEN — cases
    # must stay byte-identical across regenerations so their oracle
    # history remains comparable
    g = Gen(random.Random(SEED))
    templates = [g.t_scan, g.t_group, g.t_join, g.t_window, g.t_exists,
                 g.t_case, g.t_union, g.t_scalar_sub, g.t_strfun, g.t_datefun]
    out = accept_loop(con, templates, N)
    # block B (cases 50+): the round-8 widening — IN/NOT-IN subqueries,
    # HAVING on exact sums, 3-table chains, '_' wildcards, NULLIF keys,
    # multi-distinct aggregates, RANK/DENSE_RANK/LAG windows, pivot-style
    # conditional aggregation. Fresh RNG so block A's stream is untouched.
    gB = Gen(random.Random(SEED_B))
    templatesB = [gB.t_having_sum, gB.t_in_subquery, gB.t_join3, gB.t_like_wild,
                  gB.t_nullif_key, gB.t_multi_distinct, gB.t_rank_window,
                  gB.t_lag_window, gB.t_cond_agg, gB.t_scalar_sub]
    out += accept_loop(con, templatesB, N_B)
    # block C (cases 80+): the round-8 second widening — ROLLUP +
    # GROUPING() subtotal rows, INTERSECT/EXCEPT, FULL OUTER JOIN of
    # aggregated sides with COALESCE'd keys, self-join pair counting,
    # DISTINCT projections, two-level aggregation, ORDER BY CASE, and
    # GREATEST/LEAST group keys. Fresh RNG keeps A/B byte-stable.
    gC = Gen(random.Random(SEED_C))
    templatesC = [gC.t_rollup, gC.t_setop, gC.t_full_outer_agg, gC.t_self_join,
                  gC.t_distinct_proj, gC.t_two_level_agg, gC.t_orderby_case,
                  gC.t_greatest_least]
    out += accept_loop(con, templatesC, N_C)
    # block D (cases 105+): the round-8 third widening — NTILE bucket
    # arithmetic, FIRST_VALUE/LAST_VALUE full frames, running SUM frames,
    # PERCENT_RANK/CUME_DIST ratios, LIMIT-OFFSET pagination, null-safe
    # IS DISTINCT FROM over NULLIF'd keys, LPAD/RPAD/REVERSE/RTRIM
    # string semantics, correlated scalar COUNT subqueries in the SELECT
    # list (0-for-childless corner), and two-level CTE chains. Fresh RNG
    # keeps A/B/C byte-stable.
    gD = Gen(random.Random(SEED_D))
    templatesD = [gD.t_ntile, gD.t_first_last, gD.t_running_sum,
                  gD.t_percent_rank, gD.t_limit_offset, gD.t_is_distinct,
                  gD.t_pad_trim, gD.t_corr_scalar_select, gD.t_cte_chain]
    out += accept_loop(con, templatesD, N_D)
    # block E (cases 125+): the round-8 fourth widening — JOIN USING,
    # LATERAL correlated subqueries, explicit GROUPING SETS,
    # EXCEPT ALL / INTERSECT ALL bag semantics, RANGE frames with
    # numeric offsets, and HAVING on a global aggregate.
    gE = Gen(random.Random(SEED_E))
    templatesE = [gE.t_join_using, gE.t_lateral, gE.t_grouping_sets,
                  gE.t_except_all, gE.t_range_frame, gE.t_global_having]
    out += accept_loop(con, templatesE, N_E)
    # block F (cases 149+): the round-10 multi-join widening — star
    # fact+dims, 4-table FK chains, snowflake dim chains, and mixed
    # join+EXISTS plans, all randomized — join-reordering coverage the
    # single-join templates never generated.
    gF = Gen(random.Random(SEED_F))
    templatesF = [gF.t_star_join, gF.t_chain4, gF.t_snowflake,
                  gF.t_join_semi_mix, gF.t_join3]
    out += accept_loop(con, templatesF, N_F)
    # block G (cases 164+): the round-11 widening — LEFT-chain and
    # FULL OUTER + dim multi-joins, windows over join results, and
    # agg-over-join-over-agg: the null-extension and re-aggregation
    # planner paths block F's inner equi-joins never exercised.
    gG = Gen(random.Random(SEED_G))
    templatesG = [gG.t_outer_chain, gG.t_full_outer_dim, gG.t_join_window,
                  gG.t_agg_join_agg]
    out += accept_loop(con, templatesG, N_G)
    # block I (cases 179+): the round-13 correlated-subquery widening —
    # correlated scalar aggregates in predicates, correlated IN, nested
    # EXISTS chains, semi+anti conjunctions: the decorrelation rewrite
    # family (round-12 verdict #5). Fresh RNG keeps A-H byte-stable.
    gI = Gen(random.Random(SEED_I))
    templatesI = [gI.t_corr_scalar_where, gI.t_corr_count_where,
                  gI.t_corr_in, gI.t_nested_exists, gI.t_exists_not_exists,
                  gI.t_corr_scalar_pair]
    out += accept_loop(con, templatesI, N_I)
    # block H (dual-text cases): the round-12 nested/array/JSON widening —
    # see the DualGen block comment for the dialect-spelling design.
    gH = DualGen(random.Random(SEED_H))
    dual = accept_loop_dual(con, blockh_templates(gH), N_H)
    con.close()
    return out, dual


def emit(cases, dual=()):
    lines = [
        "package graft",
        "",
        "/** GENERATED by tools/sqlfuzz.py (seed %d) — regenerate, do not edit." % SEED,
        "  *",
        "  * Differential fuzz family for the §2.11 text-to-SQL surface",
        "  * (ai_agent.py:118-124 executes arbitrary LLM-generated SELECTs; the",
        "  * prompt grammar at :42-105 fixes the idiom set). Each case is ONE",
        "  * SQL text evaluated verbatim by BOTH engines: Spark executes it in",
        "  * SparkEntry.queries via spark.sql over the registered views, and",
        "  * the driver runs the identical string in DuckDB as the oracle —",
        "  * any divergence in parsing, null ordering, collation, LIKE",
        "  * semantics, or aggregation shows up as a hash mismatch. The",
        "  * dialect-portability rules (explicit NULLS ordering, decimal-exact",
        "  * double sums, CAST-to-DATE convention, no events.ts) are documented",
        "  * in tools/sqlfuzz.py.",
        "  */",
        "object SqlFuzz {",
        "  val cases: Seq[(String, String)] = Seq(",
    ]
    for i, (sql, nrows) in enumerate(cases):
        name = f"q_sql_fuzz_{i:02d}"
        lines.append(f'    // {nrows} rows @ sf0.01')
        lines.append(f'    "{name}" -> """{sql}""",')
    lines.append("  )")
    lines.append("")
    lines.append("  /** Block H (round-12): the nested/array/JSON surface. One")
    lines.append("    * structurally-identical query per case, rendered per dialect")
    lines.append("    * (no shared spelling exists for split/explode/size/lambda")
    lines.append("    * idioms — see tools/sqlfuzz.py's DualGen doc). Tuples are")
    lines.append("    * (name, sparkSql, duckOracleSql).")
    lines.append("    */")
    lines.append("  val dualCases: Seq[(String, String, String)] = Seq(")
    for i, (spark_sql, duck_sql, nrows) in enumerate(dual):
        name = f"q_sql_fuzzh_{i:02d}"
        lines.append(f'    // {nrows} rows @ sf0.01')
        lines.append(f'    ("{name}",')
        lines.append(f'     """{spark_sql}""",')
        lines.append(f'     """{duck_sql}"""),')
    lines.append("  )")
    lines.append("}")
    with open(OUT, "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote {OUT} with {len(cases)} shared + {len(dual)} dual cases")


def all_templates(g):
    """The union of every block's template set — the sweep explores the
    WHOLE grammar under one fresh seed rather than re-walking the frozen
    per-block streams."""
    return [g.t_scan, g.t_group, g.t_join, g.t_window, g.t_exists,
            g.t_case, g.t_union, g.t_scalar_sub, g.t_strfun, g.t_datefun,
            g.t_having_sum, g.t_in_subquery, g.t_join3, g.t_like_wild,
            g.t_nullif_key, g.t_multi_distinct, g.t_rank_window,
            g.t_lag_window, g.t_cond_agg, g.t_rollup, g.t_setop,
            g.t_full_outer_agg, g.t_self_join, g.t_distinct_proj,
            g.t_two_level_agg, g.t_orderby_case, g.t_greatest_least,
            g.t_ntile, g.t_first_last, g.t_running_sum, g.t_percent_rank,
            g.t_limit_offset, g.t_is_distinct, g.t_pad_trim,
            g.t_corr_scalar_select, g.t_cte_chain, g.t_join_using,
            g.t_lateral, g.t_grouping_sets, g.t_except_all,
            g.t_range_frame, g.t_global_having,
            g.t_star_join, g.t_chain4, g.t_snowflake, g.t_join_semi_mix,
            g.t_outer_chain, g.t_full_outer_dim, g.t_join_window,
            g.t_agg_join_agg,
            g.t_corr_scalar_where, g.t_corr_count_where, g.t_corr_in,
            g.t_nested_exists, g.t_exists_not_exists, g.t_corr_scalar_pair]


def multijoin_templates(g):
    """Only the ≥2-join templates — for a dedicated multi-join sweep
    (round-9 verdict #5: join-reorder/AQE paths need randomized
    coverage at volume, not just the handful of committed cases)."""
    return [g.t_star_join, g.t_chain4, g.t_snowflake, g.t_join_semi_mix,
            g.t_join3]


def blockg_templates(g):
    """Only the round-11 outer/window/re-agg multi-join templates — for
    a dedicated block-G sweep (`--blockg`): null-extending chains, FULL
    OUTER + dim, window-over-join, agg-over-join-over-agg."""
    return [g.t_outer_chain, g.t_full_outer_dim, g.t_join_window,
            g.t_agg_join_agg]


def blocki_templates(g):
    """Only the round-13 correlated-subquery templates — for a dedicated
    block-I sweep (`--blocki`): the decorrelation rewrite family."""
    return [g.t_corr_scalar_where, g.t_corr_count_where, g.t_corr_in,
            g.t_nested_exists, g.t_exists_not_exists, g.t_corr_scalar_pair]


# --- block H: DUAL-TEXT nested/array/JSON grammar (round-11 verdict #7) ---
#
# The shared-text design of blocks A-G cannot reach the nested surface:
# the engines spell the array/JSON idioms differently (split/string_split,
# size/len, explode/unnest, transform/list_transform,
# get_json_object/json_extract_string), and no common spelling exists. So
# block H renders ONE structurally-identical query per case TWICE through
# a dialect-spelling table — the differential property (same semantics,
# value-compared) is preserved; only the surface syntax forks. Semantics
# verified portable before inclusion:
#   - split-by-single-space tokenization agrees (no trailing-empty skew
#     on the documents corpus; templates filter '' where it matters);
#   - element access is 1-based in both; out-of-range is NULL both sides
#     (Spark via try_element_at — ANSI mode would otherwise throw);
#   - lambda syntax `x -> expr` parses identically in both engines;
#   - array_sort (Spark default ASC NULLS LAST) ≡ list_sort(l, 'ASC',
#     'NULLS LAST');
#   - array_agg output order is engine-nondeterministic → always wrapped
#     in the sort before stringifying.
#
# round6(): the VARCHAR-hop 6-dp rounding (round-11 verdict #8) — plain
# round() stays excluded (Spark HALF_UP vs DuckDB HALF_EVEN), but the hop
# CAST(CAST(x AS VARCHAR) AS DECIMAL(18,6)) reproduces Spark's round in
# BOTH engines as one text (shortest-roundtrip string → HALF_UP decimal
# parse), and unlike a direct DECIMAL(38,6)→DOUBLE cast it cannot
# double-round above 2^53 (the three r11 sf1-gate divergences). Applied
# to bounded ratios only: DECIMAL(18,6) overflows at ~1e12 and ANSI Spark
# would throw, so raw corpus-sized sums keep the established sum_of form.

def round6(expr):
    return f"CAST(CAST(CAST({expr} AS VARCHAR(48)) AS DECIMAL(18,6)) AS DOUBLE)"


class DualGen(Gen):
    """Block-H generator: every template returns (spark_sql, duck_sql)
    rendered from ONE random draw, so the two texts are the same query.
    """

    def _both(self, render):
        """Render the same drawn parameters under both spelling tables."""
        spark = {
            "split":   lambda s: f"split({s}, ' ')",
            "size":    lambda a: f"size({a})",
            "elem":    lambda a, i: f"try_element_at({a}, {i})",
            "trans":   lambda a, lam: f"transform({a}, {lam})",
            "filt":    lambda a, lam: f"filter({a}, {lam})",
            "joinarr": lambda a, sep: f"array_join({a}, '{sep}')",
            "sortarr": lambda a: f"array_sort({a})",
            "agg":     lambda e: f"array_agg({e})",
            "json":    lambda c, k: f"get_json_object({c}, '$.{k}')",
            "explode": lambda tbl, arr, tok, where:
                f"FROM {tbl} LATERAL VIEW explode({arr}) tv AS {tok}"
                + (f" WHERE {where}" if where else ""),
        }
        duck = {
            "split":   lambda s: f"string_split({s}, ' ')",
            "size":    lambda a: f"len({a})",
            "elem":    lambda a, i: f"({a})[{i}]",
            "trans":   lambda a, lam: f"list_transform({a}, {lam})",
            "filt":    lambda a, lam: f"list_filter({a}, {lam})",
            "joinarr": lambda a, sep: f"array_to_string({a}, '{sep}')",
            "sortarr": lambda a: f"list_sort({a}, 'ASC', 'NULLS LAST')",
            "agg":     lambda e: f"array_agg({e})",
            "json":    lambda c, k: f"json_extract_string({c}, '$.{k}')",
            "explode": lambda tbl, arr, tok, where:
                f"FROM (SELECT *, unnest({arr}) AS {tok} FROM {tbl}"
                + (f" WHERE {where}" if where else "") + ")",
        }
        return render(spark), render(duck)

    def th_tok_count(self):
        """Explode tokens, group-count with doc reach, optional HAVING."""
        pred = self.preds("documents")
        hav = f" HAVING COUNT(*) > {self.r.randrange(2, 8)}" \
            if self.r.random() < 0.5 else ""
        lim = self.r.choice([200, 500])
        def render(d):
            frm = d["explode"]("documents", d["split"]("text"), "tok", pred)
            return (f"SELECT tok, COUNT(*) AS cnt, "
                    f"COUNT(DISTINCT doc_id) AS ndocs {frm} "
                    f"GROUP BY tok{hav} ORDER BY tok NULLS FIRST LIMIT {lim}")
        return self._both(render)

    def th_arr_stats(self):
        """Per-doc array stats: length, membership, first/last element."""
        pred = self.preds("documents")
        w = self.r.choice(["data", "spark", "join", "window", "merge",
                           "stream", "vector"])
        lim = self.r.choice([100, 300])
        def render(d):
            a = d["split"]("text")
            return (f"SELECT doc_id, {d['size'](a)} AS n_toks, "
                    f"array_contains({a}, '{w}') AS has_{w}, "
                    f"{d['elem'](a, 1)} AS first_tok, "
                    f"{d['elem'](a, d['size'](a))} AS last_tok "
                    f"FROM documents WHERE {pred} "
                    f"ORDER BY doc_id NULLS FIRST LIMIT {lim}")
        return self._both(render)

    def th_transform_filter(self):
        """filter → transform → stringify (the higher-order lambda path)."""
        pred = self.preds("documents")
        k = self.r.randrange(3, 6)
        fn = self.r.choice(["upper", "reverse"])
        lim = self.r.choice([100, 200])
        def render(d):
            a = d["split"]("text")
            kept = d["filt"](a, f"x -> LENGTH(x) >= {k}")
            return (f"SELECT doc_id, "
                    f"{d['joinarr'](d['trans'](kept, f'x -> {fn}(x)'), ',')} AS kept, "
                    f"{d['size'](kept)} AS n_kept "
                    f"FROM documents WHERE {pred} "
                    f"ORDER BY doc_id NULLS FIRST LIMIT {lim}")
        return self._both(render)

    def th_json_group(self):
        """JSON-string field extraction (F2 boundary) as a group key."""
        pred = self.preds("events")
        def render(d):
            key = d["json"]("props", "k")
            return (f"SELECT {key} AS k, COUNT(*) AS cnt, "
                    f"CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total "
                    f"FROM events WHERE {pred} AND {key} IS NOT NULL "
                    f"GROUP BY {key} ORDER BY k NULLS FIRST")
        return self._both(render)

    def th_tok_ratio(self):
        """Bounded per-doc ratio through the VARCHAR-hop rounding."""
        pred = self.preds("documents")
        k = self.r.randrange(3, 6)
        lim = self.r.choice([100, 300])
        def render(d):
            a = d["split"]("text")
            kept = d["filt"](a, f"x -> LENGTH(x) > {k}")
            ratio = f"{d['size'](kept)} / {d['size'](a)}"
            return (f"SELECT doc_id, {d['size'](a)} AS n_toks, "
                    f"{round6(ratio)} AS long_ratio "
                    f"FROM documents WHERE {pred} "
                    f"ORDER BY doc_id NULLS FIRST LIMIT {lim}")
        return self._both(render)

    def th_distinct_agg(self):
        """Sorted distinct array_agg per group, stringified."""
        t, key, val = self.r.choice([
            ("documents", "lang", "source"),
            ("documents", "source", "lang"),
            ("events", "event_type", "props")])
        pred = self.preds(t)
        def render(d):
            arr = d["sortarr"](f"array_agg(DISTINCT {val})")
            return (f"SELECT {key}, COUNT(*) AS cnt, "
                    f"{d['joinarr'](arr, '|')} AS vals "
                    f"FROM {t} WHERE {pred} "
                    f"GROUP BY {key} ORDER BY {key} NULLS FIRST")
        return self._both(render)


def blockh_templates(g):
    return [g.th_tok_count, g.th_arr_stats, g.th_transform_filter,
            g.th_json_group, g.th_tok_ratio, g.th_distinct_agg]


def accept_loop_dual(con, templates, want):
    """Block-H acceptance: DuckDB sanity-screens the duck text; the Spark
    text ships to the committed family (the sf0.01 gate hash-compares
    both sides, and the --blockh sweep runs fresh seeds through Spark)."""
    out = []
    tries = 0
    while len(out) < want and tries < want * 20:
        tmpl = templates[tries % len(templates)]
        tries += 1
        try:
            spark_sql, duck_sql = tmpl()
        except ValueError:
            continue
        try:
            df = con.execute(duck_sql).fetchdf()
        except Exception as e:
            print(f"  skip (oracle error): {e}\n    {duck_sql}", file=sys.stderr)
            continue
        if len(df) == 0 or len(df) > 2000:
            continue
        if any("decimal" in str(dt).lower() or "object" == str(dt) and
               df[c].map(lambda v: type(v).__name__).eq("Decimal").any()
               for c, dt in df.dtypes.items()):
            print(f"  skip (decimal output): {duck_sql}", file=sys.stderr)
            continue
        out.append((spark_sql, duck_sql, len(df)))
    if len(out) < want:
        sys.exit(f"block-H accept loop starved: {len(out)}/{want}")
    return out


def sweep(seed, n):
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    for t in COLS:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    blockh = "--blockh" in sys.argv
    if blockh:
        gH = DualGen(random.Random(seed))
        # pairs: (spark_sql for the Spark side, duck_sql for the oracle)
        cases = [(sp, du) for sp, du, _ in
                 accept_loop_dual(con, blockh_templates(gH), n)]
    else:
        g = Gen(random.Random(seed))
        tmpls = multijoin_templates(g) if "--multijoin" in sys.argv \
            else blockg_templates(g) if "--blockg" in sys.argv \
            else blocki_templates(g) if "--blocki" in sys.argv \
            else all_templates(g)
        cases = [(sql, sql) for sql, _ in accept_loop(con, tmpls, n)]
    root = f"/tmp/graft_sqlsweep_{seed}"
    out = os.path.join(root, "out")
    os.makedirs(root, exist_ok=True)
    cases_path = os.path.join(root, "cases.jsonl")
    with open(cases_path, "w") as f:
        for i, (spark_sql, _) in enumerate(cases):
            f.write(json.dumps({"name": f"q_sweep_{i:02d}", "sql": spark_sql}) + "\n")
    print(f"[sweep] {len(cases)} cases accepted; running Spark side…",
          flush=True)
    r = subprocess.run(
        ["sbt", "-batch", f"runMain graft.SqlSweepMain {SF} {cases_path} {out}"],
        cwd=REPO, capture_output=True, text=True, timeout=3600)
    if "SWEEP_DONE" not in r.stdout:
        sys.stderr.write(r.stdout[-3000:] + r.stderr[-3000:])
        sys.exit("Spark sweep run failed")
    report = {"seed": seed, "n": len(cases), "divergences": [], "clean": 0,
              "multijoin": "--multijoin" in sys.argv,
              "blockg": "--blockg" in sys.argv,
              "blockh": blockh}
    for i, (sql, duck_sql) in enumerate(cases):
        name = f"q_sweep_{i:02d}"
        errf = os.path.join(out, name + ".ERROR")
        if os.path.exists(errf):
            report["divergences"].append(
                {"name": name, "kind": "spark_error",
                 "detail": open(errf).read()[:500], "sql": sql})
            print(f"DIVERGE {name}: Spark error (passed DuckDB screen)")
            continue
        exp = con.execute(duck_sql).fetchdf()
        got = con.execute(
            f"SELECT * FROM '{os.path.join(out, name)}/*.parquet'").fetchdf()
        exp = exp[sorted(exp.columns)]
        got = got[sorted(got.columns)]
        if list(exp.columns) != list(got.columns) or exp.shape != got.shape:
            report["divergences"].append(
                {"name": name, "kind": "shape",
                 "detail": f"exp {exp.shape}/{list(exp.columns)} "
                           f"got {got.shape}/{list(got.columns)}", "sql": sql})
            print(f"DIVERGE {name}: shape/columns")
            continue
        bad = None
        for c in exp.columns:
            e_, g_ = exp[c], got[c]
            try:
                eq = (e_.isna() & g_.isna()) | (e_ == g_)
            except Exception:
                eq = e_.astype(str) == g_.astype(str)
            if not eq.all():
                idx = eq.idxmin()
                bad = f"{c} row{idx}: duckdb={e_[idx]!r} spark={g_[idx]!r}"
                break
        if bad:
            report["divergences"].append(
                {"name": name, "kind": "values", "detail": bad, "sql": sql})
            print(f"DIVERGE {name}: {bad}")
        else:
            report["clean"] += 1
    tag = "_multijoin" if "--multijoin" in sys.argv \
        else "_blockg" if "--blockg" in sys.argv \
        else "_blockh" if blockh else ""
    path = os.path.join(REPO, "tools", f"sqlsweep_seed{seed}{tag}.json")
    with open(path, "w") as f:
        json.dump(report, f, indent=1)
    print(f"\nsweep seed={seed}: {report['clean']}/{report['n']} agree, "
          f"{len(report['divergences'])} divergences -> {path}")
    return 0 if not report["divergences"] else 1


if __name__ == "__main__":
    if "--sweep" in sys.argv:
        i = sys.argv.index("--sweep")
        seed = int(sys.argv[i + 1])
        n = int(sys.argv[i + 2]) if len(sys.argv) > i + 2 else 50
        sys.exit(sweep(seed, n))
    cases, dual = generate()
    for i, (sql, n) in enumerate(cases):
        print(f"q_sql_fuzz_{i:02d} [{n:4d} rows] {sql[:100]}")
    for i, (sp, du, n) in enumerate(dual):
        print(f"q_sql_fuzzh_{i:02d} [{n:4d} rows] {sp[:100]}")
    if "--check" not in sys.argv:
        emit(cases, dual)
