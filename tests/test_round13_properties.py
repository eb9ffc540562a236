"""Round-13 property tests: the Kneser-Ney LM law vs a pure-Python
reference (round-12 VERDICT item 7) and the KN > JM discrimination
claim on the adversarial corpus KN exists for."""

from __future__ import annotations

import math

import pytest

from mapreduce__spark.plans import REGISTRY


def _kn_reference(docs: list[tuple[int, str]]) -> dict[int, tuple[int, float]]:
    """Independent interpolated-KN bigram scorer, d = 3/4: trains on the
    same corpus it scores, arithmetic exactly as declared (the one
    IEEE rational, floor-quantized micro-NLL, half-up integer mean)."""
    big: dict[tuple[str, str], int] = {}
    inst: dict[int, list[tuple[str, str]]] = {}
    for doc_id, text in docs:
        toks = text.split(" ")
        pairs = list(zip(toks, toks[1:]))
        inst[doc_id] = pairs
        for p in pairs:
            big[p] = big.get(p, 0) + 1
    c1x: dict[str, int] = {}
    a1: dict[str, int] = {}
    b2: dict[str, int] = {}
    for (l, r), c in big.items():
        c1x[l] = c1x.get(l, 0) + c
        a1[l] = a1.get(l, 0) + 1
        b2[r] = b2.get(r, 0) + 1
    t = float(len(big))
    out: dict[int, tuple[int, float]] = {}
    for doc_id, pairs in inst.items():
        if not pairs:
            continue
        s = 0
        for l, r in pairs:
            p = ((4 * big[(l, r)] - 3) * t + 3.0 * a1[l] * b2[r]) / (
                (4.0 * c1x[l]) * t
            )
            s += int(math.floor(-math.log(p) * 1000000 + 0.5))
        n = len(pairs)
        out[doc_id] = (n, float((2 * s + n) // (2 * n)) / 1000000)
    return out


@pytest.fixture(scope="module")
def kn_corpus_sf(tmp_path_factory) -> str:
    """A corpus with the structure KN was invented for: 'francisco'
    occurs OFTEN but always after 'san' (single continuation context),
    while 'day' occurs the same number of times after many different
    words — plus a one-token doc (no bigrams, must drop out) and some
    filler text."""
    from tests.test_round13_advice import _write_documents

    rows, doc_id = [], 0
    texts = [
        "we drove to san francisco from san francisco bay",
        "san francisco fog rolled over san francisco hills",
        "a nice day and a long day and a good day",
        "every day some day one day each day",
        "solo",
        "the chef cooked while the chef sang",
        "day after day the san francisco day began",
    ]
    for text in texts:
        doc_id += 1
        rows.append((doc_id, text, "en", "web", len(text)))
    d = str(tmp_path_factory.mktemp("kn_corpus"))
    _write_documents(d, rows)
    return d


def test_kn_lm_score_matches_pure_python_reference(spark, kn_corpus_sf):
    import duckdb

    con = duckdb.connect()
    docs = con.execute(
        f"SELECT doc_id, text FROM read_parquet('{kn_corpus_sf}/documents.parquet')"
    ).fetchall()
    con.close()
    want = _kn_reference([(d, t) for d, t in docs])
    got = {
        r.doc_id: (r.n_bigrams, r.nll)
        for r in REGISTRY["kn_lm_score"].fn(spark, kn_corpus_sf).collect()
    }
    assert got == want
    assert 5 not in got  # the one-token doc has no bigrams


def test_kn_lm_score_matches_oracle_on_adversarial_corpus(spark, kn_corpus_sf):
    from tests.oracle_harness import compare_with_oracle

    q = REGISTRY["kn_lm_score"]
    ok, msg = compare_with_oracle(q.fn(spark, kn_corpus_sf), q.oracle, kn_corpus_sf)
    assert ok, msg


def test_kn_probabilities_sum_to_one_per_context(spark, sf_small):
    """The smoothing law itself: for every context w1, summing
    p_KN(w2 | w1) over the seen continuations plus the reclaimed
    backoff mass spread over UNSEEN continuations must give exactly 1 —
    checked in exact Fractions on the sf corpus model."""
    from fractions import Fraction

    import duckdb

    con = duckdb.connect()
    rows = con.execute(
        f"""
        WITH t AS (SELECT string_split(text, ' ') AS toks
                   FROM read_parquet('{sf_small}/documents.parquet')),
        inst AS (SELECT toks[i] AS l, toks[i+1] AS r
                 FROM t CROSS JOIN UNNEST(range(1, len(toks))) AS u(i))
        SELECT l, r, count(*) FROM inst GROUP BY 1, 2
        """
    ).fetchall()
    con.close()
    big = {(l, r): c for l, r, c in rows}
    c1x: dict = {}
    a1: dict = {}
    b2: dict = {}
    for (l, r), c in big.items():
        c1x[l] = c1x.get(l, 0) + c
        a1[l] = a1.get(l, 0) + 1
        b2[r] = b2.get(r, 0) + 1
    t = len(big)
    d = Fraction(3, 4)
    vocab_b2 = sum(b2.values())
    assert vocab_b2 == t  # continuation mass normalizes over bigram types
    # check a handful of contexts, including the heaviest
    for l in sorted(c1x, key=lambda k: -c1x[k])[:25]:
        seen = Fraction(0)
        for (ll, r), c in big.items():
            if ll == l:
                seen += (Fraction(c) - d) / c1x[l] + (
                    d * a1[l] / c1x[l]
                ) * Fraction(b2[r], t)
        unseen_mass = (d * a1[l] / c1x[l]) * Fraction(
            t - sum(b2[r] for (ll, r) in big if ll == l), t
        )
        assert seen + unseen_mass == 1


# ---------------------------------------------------------------------------
# dedup_edit_distance: Pass-Join blocking is lossless
# ---------------------------------------------------------------------------


def _lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


@pytest.fixture(scope="module")
def edit_corpus_sf(tmp_path_factory) -> str:
    """Base strings plus planted 1/2/3-edit variants (substitution,
    insertion, deletion — including edits that shift the prefix) and a
    few short docs exercising the rpad path."""
    import random

    from tests.test_round13_advice import _write_documents

    rng = random.Random(13)
    alpha = "abcdef "
    rows = []
    doc_id = 0

    def add(text):
        nonlocal doc_id
        doc_id += 1
        rows.append((doc_id, text, "en", "web", len(text)))

    for _ in range(18):
        base = "".join(rng.choice(alpha) for _ in range(rng.randint(20, 40)))
        add(base)
        for n_edits in (1, 2, 3):
            s = list(base)
            for _ in range(n_edits):
                op = rng.choice("sid")
                pos = rng.randrange(max(1, len(s)))
                if op == "s":
                    s[pos] = rng.choice(alpha)
                elif op == "i":
                    s.insert(pos, rng.choice(alpha))
                elif len(s) > 2:
                    del s[pos]
            add("".join(s))
    add("ab")      # rpad-dominated
    add("abc")
    add(rows[0][1])  # exact duplicate of doc 1 -> ed = 0
    d = str(tmp_path_factory.mktemp("edit_corpus"))
    _write_documents(d, rows)
    return d


def test_dedup_edit_distance_equals_bruteforce(spark, edit_corpus_sf):
    """The Pass-Join partition blocking must be LOSSLESS: the query's
    output equals the all-pairs brute force over rpad'd prefixes
    exactly — same pairs, same distances (recall 1 is the partition
    guarantee, precision 1 is the verify step)."""
    import duckdb

    from mapreduce__spark.plans import REGISTRY
    from mapreduce__spark.plans.tier2_dedup import ED_K, ED_PREFIX

    con = duckdb.connect()
    docs = con.execute(
        f"SELECT doc_id, text FROM read_parquet('{edit_corpus_sf}/documents.parquet')"
    ).fetchall()
    con.close()
    padded = {d: (t + "$" * ED_PREFIX)[:ED_PREFIX] for d, t in docs}
    want = set()
    ids = sorted(padded)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            ed = _lev(padded[a], padded[b])
            if ed <= ED_K:
                want.add((a, b, ed))
    got = {
        (r.id1, r.id2, r.ed)
        for r in REGISTRY["dedup_edit_distance"].fn(spark, edit_corpus_sf).collect()
    }
    assert got == want and any(ed == 0 for _, _, ed in want)


def test_dedup_edit_distance_matches_oracle_on_planted_corpus(spark, edit_corpus_sf):
    from mapreduce__spark.plans import REGISTRY
    from tests.oracle_harness import compare_with_oracle

    q = REGISTRY["dedup_edit_distance"]
    ok, msg = compare_with_oracle(q.fn(spark, edit_corpus_sf), q.oracle, edit_corpus_sf)
    assert ok, msg


# ---------------------------------------------------------------------------
# theil_sen_slope: robustness law vs a pure-Python reference
# ---------------------------------------------------------------------------


def test_theil_sen_matches_reference_and_shrugs_off_outliers(spark, tmp_path_factory):
    """On a corpus where y = 3x + 7 exactly except for a 25% block of
    wild outliers, the weighted-median slope must read exactly 3.0
    (OLS on the same data is pulled far off — the estimator's reason to
    exist), and the full per-source output must equal an independent
    pure-Python weighted-median implementation."""
    from tests.test_round13_advice import _write_documents
    from mapreduce__spark.plans import REGISTRY

    rows = []
    doc_id = 0
    # clean source: y = 3x + 7 for x in 1..12, repeated
    for rep in range(3):
        for x in range(1, 13):
            doc_id += 1
            rows.append((doc_id, " ".join(["t"] * x), "en", "clean", 3 * x + 7))
    # contaminated source: same line, but every 4th doc has wild y
    for rep in range(3):
        for x in range(1, 13):
            doc_id += 1
            y = 99999 + 1000 * x if x % 4 == 0 else 3 * x + 7
            rows.append((doc_id, " ".join(["t"] * x), "en", "dirty", y))
    d = str(tmp_path_factory.mktemp("theil_sen"))
    _write_documents(d, rows)

    got = {
        r.source: (r.n_pairs_w, r.median_slope)
        for r in REGISTRY["theil_sen_slope"].fn(spark, d).collect()
    }

    # independent reference: weighted median over cell-pair slopes
    import collections

    cells: dict = collections.Counter()
    for _, text, _, source, y in rows:
        cells[(source, text.count(" ") + 1, y)] += 1
    want = {}
    for source in ("clean", "dirty"):
        sl = collections.Counter()
        cs = [(x, y, n) for (s, x, y), n in cells.items() if s == source]
        for x1, y1, n1 in cs:
            for x2, y2, n2 in cs:
                if x1 < x2:
                    sl[(y2 - y1) / (x2 - x1)] += n1 * n2
        tot = sum(sl.values())
        cum = 0
        med = None
        for s_val in sorted(sl):
            cum += sl[s_val]
            if cum * 2 >= tot:
                med = s_val
                break
        want[source] = (tot, med)
    assert got == want
    assert got["clean"][1] == 3.0
    assert got["dirty"][1] == 3.0  # 25% contamination, median unmoved
    # and OLS on the dirty source really is destroyed (sanity context)
    xs = [x for x in range(1, 13)] * 3
    ys = [99999 + 1000 * x if x % 4 == 0 else 3 * x + 7 for x in xs]
    n = len(xs)
    beta = (n * sum(x * y for x, y in zip(xs, ys)) - sum(xs) * sum(ys)) / (
        n * sum(x * x for x in xs) - sum(xs) ** 2
    )
    assert abs(beta - 3.0) > 100


# ---------------------------------------------------------------------------
# token_entropy: information-theoretic laws
# ---------------------------------------------------------------------------


def test_token_entropy_laws(spark, tmp_path_factory):
    """All-distinct tokens -> entropy exactly n * micro(ln n); all-same
    token -> exactly 0; a half-half mix -> n * micro(ln 2); and the full
    output equals an independent pure-Python recomputation."""
    from tests.test_round13_advice import _write_documents
    from mapreduce__spark.plans import REGISTRY

    rows = [
        (1, "a b c d e f g h", "en", "web", 15),      # 8 distinct
        (2, "x x x x x x", "en", "web", 11),          # all same
        (3, "y y z z", "en", "web", 7),               # half-half
        (4, "w", "en", "web", 1),                     # single token
    ]
    d = str(tmp_path_factory.mktemp("entropy"))
    _write_documents(d, rows)
    got = {
        r.doc_id: (r.n_tokens, r.n_types, r.entropy_micro, r.ttr)
        for r in REGISTRY["token_entropy"].fn(spark, d).collect()
    }

    def micro(x: float) -> int:
        return math.floor(x * 1000000 + 0.5)

    def ref(text: str):
        toks = text.split(" ")
        n = len(toks)
        counts: dict = {}
        for t in toks:
            counts[t] = counts.get(t, 0) + 1
        ent = sum(k * micro(-math.log(k / n)) for k in counts.values())
        return (n, len(counts), ent, len(counts) / n)

    want = {doc_id: ref(text) for doc_id, text, _, _, _ in rows}
    assert got == want
    assert got[1][2] == 8 * micro(math.log(8))
    assert got[2][2] == 0 and got[2][3] == 1 / 6
    assert got[3][2] == 4 * micro(math.log(2))
    assert got[4] == (1, 1, 0, 1.0)


# ---------------------------------------------------------------------------
# gini_doc_length: exactness laws
# ---------------------------------------------------------------------------


def test_gini_doc_length_laws(spark, tmp_path_factory):
    """Equal lengths -> gini exactly 0; a known hand case matches; and
    the histogram-compacted rank sum equals the naive sorted-rank-sum
    Gini recomputed in pure Python on ties-heavy data."""
    from tests.test_round13_advice import _write_documents
    from mapreduce__spark.plans import REGISTRY

    rows = []
    doc_id = 0
    for _ in range(9):  # uniform source: all lengths 50
        doc_id += 1
        rows.append((doc_id, "t" * 50, "en", "uniform", 50))
    for v in (10, 10, 20, 20, 20, 90):  # ties-heavy skewed source
        doc_id += 1
        rows.append((doc_id, "t" * v, "en", "skewed", v))
    d = str(tmp_path_factory.mktemp("gini"))
    _write_documents(d, rows)
    got = {
        r.source: (r.n_docs, r.total_chars, r.gini_num, r.gini_den, r.gini)
        for r in REGISTRY["gini_doc_length"].fn(spark, d).collect()
    }

    def ref(vals):
        xs = sorted(vals)
        n = len(xs)
        tot = sum(xs)
        ranksum = sum(i * x for i, x in enumerate(xs, 1))
        num = 2 * ranksum - (n + 1) * tot
        return (n, tot, num, n * tot, num / (n * tot))

    assert got["uniform"] == ref([50] * 9)
    assert got["uniform"][2] == 0 and got["uniform"][4] == 0.0
    assert got["skewed"] == ref([10, 10, 20, 20, 20, 90])


# ---------------------------------------------------------------------------
# mutual_info_lang_source: information-theoretic laws
# ---------------------------------------------------------------------------


def test_mutual_info_laws(spark, tmp_path_factory):
    """Independent labels (product contingency) -> MI exactly 0; a
    perfectly-dependent layout (each lang lives in exactly one source)
    -> MI = micro(ln n_lang) per doc; both recomputed against a
    pure-Python reference."""
    from tests.test_round13_advice import _write_documents
    from mapreduce__spark.plans import REGISTRY

    def run(rows, tag):
        d = str(tmp_path_factory.mktemp(tag))
        _write_documents(d, rows)
        r = REGISTRY["mutual_info_lang_source"].fn(spark, d).collect()[0]
        return r

    def micro(x: float) -> int:
        return math.floor(x * 1000000 + 0.5)

    # independence: every (lang, source) cell has the same count, so
    # p_xy = p_x * p_y exactly and every per-cell term is micro(ln 1) = 0
    rows, doc_id = [], 0
    for lang in ("en", "de", "fr"):
        for source in ("web", "books"):
            for _ in range(4):
                doc_id += 1
                rows.append((doc_id, "t t t", lang, source, 5))
    r = run(rows, "mi_indep")
    assert (r.n_docs, r.n_cells, r.mi_micro_weighted) == (24, 6, 0)

    # perfect dependence: lang determines source; with equal-sized
    # blocks, each cell term is ln(c*N/(c*c)) = ln(n_lang)
    rows, doc_id = [], 0
    for lang, source in (("en", "web"), ("de", "books"), ("fr", "wiki")):
        for _ in range(5):
            doc_id += 1
            rows.append((doc_id, "t t t", lang, source, 5))
    r = run(rows, "mi_dep")
    assert r.n_cells == 3
    assert r.mi_micro_weighted == 15 * micro(math.log(3))

    # general case vs pure-Python reference
    rows, doc_id = [], 0
    layout = [("en", "web", 7), ("en", "books", 2), ("de", "web", 1),
              ("de", "books", 6), ("fr", "wiki", 3)]
    for lang, source, k in layout:
        for _ in range(k):
            doc_id += 1
            rows.append((doc_id, "t t t", lang, source, 5))
    r = run(rows, "mi_gen")
    n = sum(k for _, _, k in layout)
    cx: dict = {}
    cy: dict = {}
    for lang, source, k in layout:
        cx[lang] = cx.get(lang, 0) + k
        cy[source] = cy.get(source, 0) + k
    want = sum(
        k * micro(math.log((k * n) / (cx[lang] * cy[source])))
        for lang, source, k in layout
    )
    assert r.mi_micro_weighted == want and want > 0


# ---------------------------------------------------------------------------
# stream_mg_fold: randomized differential vs an independent Python MG
# ---------------------------------------------------------------------------


def test_batch_mg_fold_matches_python_sim_on_random_skews(spark, tmp_path_factory):
    """Seeded random event corpora across skew regimes (uniform, zipf-ish,
    few-heavy-many-light) — the batch MG fold must equal an independent
    pure-Python weighted-MG simulation in the pinned insertion order,
    including corpora where the cap binds hard and where it never
    binds."""
    import random

    import pyarrow as pa
    import pyarrow.parquet as pq

    from mapreduce__spark.streaming.streams import batch_mg_fold

    rng = random.Random(1312)
    rows = []
    for et, mode, n_ev in (
        ("uniform", "u", 400), ("zipf", "z", 600), ("spiky", "s", 300),
        ("tiny", "t", 9),  # fewer users than cap: decrement never fires
    ):
        for _ in range(n_ev):
            if mode == "u":
                u = rng.randrange(60)
            elif mode == "z":
                u = int(60 / (rng.randrange(1, 60) ** 0.7))
            elif mode == "s":
                u = 0 if rng.random() < 0.5 else rng.randrange(200)
            else:
                u = rng.randrange(3)
            rows.append((et, u))
    d = str(tmp_path_factory.mktemp("mg_rand"))
    pq.write_table(
        pa.table({
            "event_type": pa.array([r[0] for r in rows], pa.string()),
            "user_id": pa.array([r[1] for r in rows], pa.int64()),
        }),
        f"{d}/events.parquet",
    )
    CAP = 8
    ev = spark.read.parquet(f"{d}/events.parquet")
    got = sorted(
        (r.event_type, r.user_id, r.est, r.n_seen)
        for r in batch_mg_fold(ev, cap=CAP).collect()
    )

    import collections

    per = collections.defaultdict(collections.Counter)
    for et, u in rows:
        per[et][u] += 1
    want = []
    for et, counts in per.items():
        mg: dict = {}
        total = sum(counts.values())
        for u, c in sorted(counts.items(), key=lambda t: (-t[1], t[0])):
            if u in mg:
                mg[u] += c
                continue
            mg[u] = c
            if len(mg) > CAP:
                dmin = min(mg.values())
                mg = {k: v - dmin for k, v in mg.items() if v - dmin > 0}
        want += [(et, u, mg[u], total) for u in sorted(mg)]
    assert got == sorted(want)
    # the tiny regime really kept everyone (cap never fired)
    tiny = [t for t in got if t[0] == "tiny"]
    assert len(tiny) == 3 and all(est == c for _, _, est, c in [
        (None, None, t[2], per["tiny"][t[1]]) for t in tiny
    ])
