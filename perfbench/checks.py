"""Output checks. They run outside the timed region and need no Spark:
each takes plain Python / Arrow data and returns a list of failure
strings (empty = correct). Exact companions come from pyarrow or DuckDB,
never from sketchlib.
"""

from __future__ import annotations

import math

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from sketchlib.core.serde import sketch_from_bytes

BLOOM_P = 0.01
LATTICE = ("bloom", "hll", "cms")  # bitwise-mergeable kinds
QUANTILES = (0.1, 0.5, 0.9, 0.99)
RANK_EPS = 0.02  # KLL k=200 / t-digest delta=200 normalized rank error


def rank_error(sorted_vals: np.ndarray, est: float, q: float) -> float:
    """Distance of q from the exact rank interval [F(est-), F(est)]."""
    n = len(sorted_vals)
    lo = np.searchsorted(sorted_vals, est, side="left") / n
    hi = np.searchsorted(sorted_vals, est, side="right") / n
    return max(0.0, lo - q, q - hi)


def _tokens(text: pa.Array) -> pa.Array:
    toks = pc.list_flatten(pc.split_pattern(text.drop_null(), " "))
    return toks.filter(pc.not_equal(toks, ""))


# ---------------------------------------------------------------------------
# pages_build
# ---------------------------------------------------------------------------

def pages_exact(pages: pa.Table) -> dict:
    """Per-lang exact companions of the five pages sketches."""
    out = {}
    for lang in pc.unique(pages["lang"]).to_pylist():
        sub = pages.filter(pc.equal(pages["lang"], lang))
        toks = _tokens(sub["text"])
        vc = pc.value_counts(toks)
        counts = dict(zip(vc.field("values").to_pylist(),
                          vc.field("counts").to_pylist()))
        top = sorted(counts, key=lambda t: (-counts[t], t))[:20]
        out[lang] = {
            "urls": sub["url"],
            "n_urls": pc.count_distinct(sub["url"]).as_py(),
            "html_len": np.sort(pc.binary_length(sub["html"]).to_numpy()
                                .astype(np.float64)),
            "n_tokens": len(toks),
            "top_tokens": {t: counts[t] for t in top},
        }
    return out


def check_pages(merged: dict, exact: dict) -> list[str]:
    """``merged`` maps (lang, sketch_name) -> serialized sketch."""
    fails = []
    for lang, ex in exact.items():
        try:
            bf = sketch_from_bytes(merged[(lang, "url_bloom")])
            fn = int((~bf.contains_batch(ex["urls"])).sum())
            if fn:
                fails.append(f"{lang} url_bloom: {fn} false negatives")
            hll = sketch_from_bytes(merged[(lang, "url_hll")])
            bound = 4 * 1.04 / math.sqrt(1 << 14) * ex["n_urls"]
            if abs(hll.estimate() - ex["n_urls"]) > bound:
                fails.append(f"{lang} url_hll: {hll.estimate():.0f} vs "
                             f"{ex['n_urls']} exact (bound {bound:.0f})")
            cms = sketch_from_bytes(merged[(lang, "tok_cms")])
            est = cms.query_batch(pa.array(list(ex["top_tokens"])))
            slack = math.e / cms.w * ex["n_tokens"]
            for (tok, n), e in zip(ex["top_tokens"].items(), est):
                if not n <= e <= n + slack:
                    fails.append(f"{lang} tok_cms[{tok}]: {e} vs {n} exact")
                    break
            for name in ("len_kll", "len_tdigest"):
                sk = sketch_from_bytes(merged[(lang, name)])
                for q in QUANTILES:
                    err = rank_error(ex["html_len"], float(sk.quantile(q)), q)
                    if err > RANK_EPS:
                        fails.append(f"{lang} {name} q{q}: rank error {err:.4f}")
        except KeyError as e:
            fails.append(f"{lang}: missing sketch {e}")
        except Exception as e:  # a corrupt blob that no longer decodes
            fails.append(f"{lang}: {type(e).__name__}: {e}")
    if set(merged) - {(l, n) for l in exact for n in
                      ("url_bloom", "url_hll", "tok_cms", "len_kll", "len_tdigest")}:
        fails.append("unexpected sketch rows")
    return fails


def check_lattice_equal(first: dict, other: dict, kinds: dict) -> list[str]:
    """Lattice sketches of two builds over the same rows must be bitwise
    equal. ``kinds`` maps sketch_name -> kind."""
    fails = []
    for key, blob in first.items():
        if kinds.get(key[-1]) in LATTICE and other.get(key) != blob:
            fails.append(f"{key}: not bitwise equal to the first build")
    return fails


# ---------------------------------------------------------------------------
# sketch_queries
# ---------------------------------------------------------------------------

def sf_exact(con) -> dict:
    """Exact companions of the query mix, computed by DuckDB over views
    ``documents``, ``events``, ``orders``, ``lineitem`` on ``con``."""
    q = lambda s: con.sql(s).fetchall()
    ex = {}
    ex["n_docs"] = dict(q("SELECT lang, count(*) FROM documents GROUP BY 1"))
    ex["n_distinct_text"] = dict(q(
        "SELECT lang, count(DISTINCT text) FROM documents GROUP BY 1"))
    ex["doc_lang"] = dict(q("SELECT doc_id, lang FROM documents"))
    ex["nchars"] = {l: np.sort(np.array([v for (v,) in q(
        f"SELECT n_chars FROM documents WHERE lang = '{l}'")], dtype=np.float64))
        for l in ex["n_docs"]}
    ex["values"] = {t: np.sort(np.array([v for (v,) in q(
        f"SELECT value FROM events WHERE event_type = '{t}'")], dtype=np.float64))
        for (t,) in q("SELECT DISTINCT event_type FROM events")}
    tok = ("SELECT lang, unnest(string_split(text, ' ')) AS token "
           "FROM documents")
    ex["tok_counts"] = {(l, t): n for l, t, n in q(
        f"SELECT lang, token, count(*) FROM ({tok}) WHERE token <> '' "
        "GROUP BY 1, 2")}
    ex["tok_total"] = {}
    ex["tok_f2"] = {}
    for (l, _t), n in ex["tok_counts"].items():
        ex["tok_total"][l] = ex["tok_total"].get(l, 0) + n
        ex["tok_f2"][l] = ex["tok_f2"].get(l, 0) + n * n
    ex["join_rows"] = q("SELECT count(*) FROM lineitem JOIN orders "
                        "ON l_orderkey = o_orderkey")[0][0]
    ex["n_lineitem"] = q("SELECT count(*) FROM lineitem")[0][0]
    ex["n_orders"] = q("SELECT count(*) FROM orders")[0][0]
    users = {t: set(u for (u,) in q(
        f"SELECT DISTINCT user_id FROM events WHERE event_type = '{t}'"))
        for t in ex["values"]}
    ex["users"] = users
    return ex


def canon_rows(rows: list[dict]) -> list[tuple]:
    """Order-insensitive canonical form: name-sorted columns, floats at
    6 decimals, -0.0 folded into 0.0."""
    out = []
    for r in rows:
        out.append(tuple(
            f"{float(r[c]) + 0.0:.6f}" if isinstance(r[c], float) else str(r[c])
            for c in sorted(r)))
    return sorted(out)


def check_query(name: str, rows: list[dict], ex: dict,
                oracle: list[dict] | None = None) -> list[str]:
    fails = []
    if not rows:
        return [f"{name}: no rows"]
    if name == "bloom_semijoin":
        if canon_rows(rows) != canon_rows(oracle or []):
            fails.append("bloom_semijoin: differs from its DuckDB oracle")
    elif name == "bloom_fpr_validation":
        for r in rows:
            if r["false_negatives"] != 0:
                fails.append(f"{r['lang']}: {r['false_negatives']} false negatives")
            if r["n_keys"] != ex["n_docs"][r["lang"]]:
                fails.append(f"{r['lang']}: n_keys {r['n_keys']}")
            p = r["designed_p"]
            if r["measured_fpr"] > p + 5 * math.sqrt(p * (1 - p) / r["probes"]):
                fails.append(f"{r['lang']}: fpr {r['measured_fpr']:.4f} vs p={p}")
    elif name == "hll_distinct_lang":
        for r in rows:
            n = ex["n_distinct_text"][r["lang"]]
            if abs(r["n_distinct_est"] - n) > 4 * r["rel_error"] * n:
                fails.append(f"{r['lang']}: {r['n_distinct_est']} vs {n}")
    elif name == "cms_top_tokens":
        for r in rows:
            n = ex["tok_counts"].get((r["lang"], r["token"]), 0)
            slack = math.e / 16384 * ex["tok_total"][r["lang"]]
            if r["exact_cnt"] != n or not n <= r["est_cnt"] <= n + slack:
                fails.append(f"{r['lang']}/{r['token']}: est {r['est_cnt']} "
                             f"exact {r['exact_cnt']} vs {n}")
    elif name == "countsketch_token_freq":
        for r in rows:
            n = ex["tok_counts"].get((r["lang"], r["token"]), 0)
            bound = 5 * math.sqrt(ex["tok_f2"][r["lang"]] / 16384)
            if abs(r["est_cnt"] - n) > bound:
                fails.append(f"{r['lang']}/{r['token']}: {r['est_cnt']} vs {n}")
    elif name == "kll_quantiles_nchars":
        for r in rows:
            v = ex["nchars"][r["lang"]]
            for col, q in (("kll_p50", .5), ("kll_p90", .9),
                           ("td_p50", .5), ("td_p90", .9)):
                if rank_error(v, r[col], q) > RANK_EPS:
                    fails.append(f"{r['lang']} {col}: {r[col]}")
            for col, x in (("share_le_200", 200), ("share_le_500", 500)):
                exact = np.searchsorted(v, x, side="right") / len(v)
                if abs(r[col] - exact) > RANK_EPS:
                    fails.append(f"{r['lang']} {col}: {r[col]} vs {exact:.4f}")
    elif name == "tdigest_quantiles_value":
        for r in rows:
            v = ex["values"][r["event_type"]]
            for col, q in (("p50_est", .5), ("p95_est", .95)):
                if rank_error(v, r[col], q) > RANK_EPS:
                    fails.append(f"{r['event_type']} {col}: {r[col]}")
    elif name == "sample_docs_lang":
        by_lang: dict = {}
        for r in rows:
            by_lang.setdefault(r["lang"], []).append(r)
            # sample_values reads ids back as their decimal strings
            if ex["doc_lang"].get(int(r["doc_id"])) != r["lang"]:
                fails.append(f"doc {r['doc_id']} not in {r['lang']}")
        for lang, rs in by_lang.items():
            n = ex["n_docs"][lang]
            if len({r["doc_id"] for r in rs}) != min(20, n):
                fails.append(f"{lang}: {len(rs)} sampled docs")
            # bottom-k (k=20) relative standard error ~ 1/sqrt(k-2)
            if abs(rs[0]["n_distinct_est"] / n - 1) > 4 / math.sqrt(18):
                fails.append(f"{lang}: n_distinct_est {rs[0]['n_distinct_est']}")
        if set(by_lang) != set(ex["n_docs"]):
            fails.append("sample_docs_lang: missing langs")
    elif name == "cms_join_size":
        est, n = rows[0]["join_rows_est"], ex["join_rows"]
        slack = math.e / (1 << 19) * ex["n_lineitem"] * ex["n_orders"]
        if not n <= est <= n + slack:
            fails.append(f"cms_join_size: {est} vs {n} exact")
    elif name == "sketch_set_algebra":
        users = ex["users"]
        for r in rows:
            a, b = users[r["type_a"]], users[r["type_b"]]
            inter, union = len(a & b), len(a | b)
            if abs(r["n_shared_est"] - inter) > 0.05 * inter + 5:
                fails.append(f"{r['type_a']}/{r['type_b']}: shared {r['n_shared_est']}")
            if abs(r["jaccard_est"] - inter / union) > 0.05:
                fails.append(f"{r['type_a']}/{r['type_b']}: jaccard {r['jaccard_est']}")
            if abs(r["n_only_a_est"] - len(a - b)) > 0.05 * len(a) + 5:
                fails.append(f"{r['type_a']}/{r['type_b']}: only_a {r['n_only_a_est']}")
            if abs(r["containment_est"] - inter / len(a)) > 0.1:
                fails.append(f"{r['type_a']}/{r['type_b']}: containment")
    else:
        fails.append(f"{name}: no check defined")
    return fails


# ---------------------------------------------------------------------------
# layer probes: dedup pairs and streaming
# ---------------------------------------------------------------------------

def exact_ngram_pairs(con, view: str, n: int = 3, threshold: float = 0.5) -> dict:
    """Exact word-n-gram Jaccard pairs (a_id < b_id) computed by DuckDB."""
    sql = f"""
    WITH t AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
               FROM {view}),
    sh AS (SELECT DISTINCT doc_id,
                  array_to_string(w[i:i + {n - 1}], ' ') AS s
           FROM (SELECT doc_id, w, unnest(range(1, len(w) - {n - 2})) AS i
                 FROM t WHERE len(w) >= {n})),
    sz AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY 1),
    inter AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS i
              FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
              GROUP BY 1, 2)
    SELECT a_id, b_id, i / (sa.c + sb.c - i) AS j
    FROM inter JOIN sz sa ON sa.doc_id = a_id JOIN sz sb ON sb.doc_id = b_id
    WHERE i / (sa.c + sb.c - i) >= {threshold}
    """
    return {(a, b): j for a, b, j in con.sql(sql).fetchall()}


def check_ngram_pairs(got: dict, exact: dict) -> list[str]:
    fails = []
    if set(got) != set(exact):
        fails.append(f"ngram_jaccard_pairs: {len(set(got) - set(exact))} extra, "
                     f"{len(set(exact) - set(got))} missing pairs")
    for k in set(got) & set(exact):
        if abs(got[k] - exact[k]) > 1e-4:
            fails.append(f"ngram_jaccard_pairs {k}: {got[k]} vs {exact[k]:.4f}")
            break
    return fails


def check_planted_pairs(got: set, texts: dict) -> list[str]:
    """Every pair of docs with identical text (the generator's planted
    exact duplicates) must be returned. ``texts`` maps doc_id -> text."""
    by_text: dict = {}
    for d, t in texts.items():
        if len([w for w in t.split(" ") if w]) >= 3:
            by_text.setdefault(t, []).append(d)
    missing = 0
    for ids in by_text.values():
        ids.sort()
        for i, a in enumerate(ids):
            for b in ids[i + 1:]:
                missing += (a, b) not in got
    return [f"{missing} planted duplicate pairs missing"] if missing else []
