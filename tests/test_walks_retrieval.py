"""Deterministic walks, qualified link edges, contamination pairs, and
BM25 retrieval stats — each against a pure-python oracle."""

import hashlib
from collections import Counter, defaultdict

from pyspark.sql import functions as F


def _edges(spark, pairs):
    return spark.createDataFrame(
        [(a, b) for a, b in pairs], "subj string, obj string"
    )


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _span_rows(rows):
    return [
        {
            "doc_id": doc_id,
            "spans": [
                {"kind": k, "text": t, "media_ref": m, "offset": o}
                for (k, t, m, o) in spans
            ],
        }
        for doc_id, spans in rows
    ]


# --- deterministic walks -----------------------------------------------------


def _py_walks(pairs, n_steps, salt="w"):
    adj = defaultdict(set)
    for a, b in pairs:
        adj[a].add(b)
    out = []
    for start in sorted(adj):
        node = start
        out.append((start, 0, node))
        for t in range(1, n_steps + 1):
            nbrs = adj.get(node)
            if not nbrs:
                break
            node = min(
                nbrs,
                key=lambda v: (
                    hashlib.md5(
                        f"{salt}:{t}:{node}>{v}".encode()
                    ).hexdigest(),
                    v,
                ),
            )
            out.append((start, t, node))
    return sorted(out)


def test_walks_match_python_oracle(spark):
    from obsidian_parser_spark.operators.walks import deterministic_walks

    pairs = [
        ("a", "b"), ("a", "c"), ("b", "c"), ("b", "a"),
        ("c", "d"), ("d", "a"), ("d", "e"),  # e is a sink
        ("e_src", "e"),
    ]
    got = sorted(
        (r["start"], r["step"], r["node"])
        for r in deterministic_walks(_edges(spark, pairs), n_steps=4).collect()
    )
    assert got == _py_walks(pairs, 4)


def test_walks_stop_at_sinks(spark):
    from obsidian_parser_spark.operators.walks import deterministic_walks

    # chain a->b->c: a's walk reaches c at step 2 and stops; c starts none
    got = deterministic_walks(
        _edges(spark, [("a", "b"), ("b", "c")]), n_steps=5
    ).collect()
    by_start = defaultdict(dict)
    for r in got:
        by_start[r["start"]][r["step"]] = r["node"]
    assert by_start["a"] == {0: "a", 1: "b", 2: "c"}
    assert by_start["b"] == {0: "b", 1: "c"}
    assert "c" not in by_start


def test_walks_step_dependent_hash_breaks_two_cycles(spark):
    from obsidian_parser_spark.operators.walks import deterministic_walks

    # with a step-independent hash a 2-cycle a<->b would force strict
    # alternation; step-dependence at least ALLOWS self-return via the
    # third node — just pin the python oracle here
    pairs = [("a", "b"), ("b", "a"), ("b", "c"), ("c", "a")]
    got = sorted(
        (r["start"], r["step"], r["node"])
        for r in deterministic_walks(_edges(spark, pairs), n_steps=6).collect()
    )
    assert got == _py_walks(pairs, 6)


# --- qualified link edges ----------------------------------------------------


def test_qualified_link_edges_micro(spark, join_threshold):
    from obsidian_parser_spark.operators.linking import (
        build_alias_dict,
        qualified_link_edges,
    )
    from obsidian_parser_spark.operators.tokenize import tokenize_documents
    from tests.util import assert_join_follows_threshold, spans_df

    rows = [
        ("n1", [("text", "x ", None, 0), ("wikilink", "[[n2#Intro]]", None, 2)]),
        ("n2", [("wikilink", "[[n1^blk7]]", None, 0)]),
        ("n3", [("wikilink", "[[n2#Deep dive|shown]]", None, 0)]),
        ("n4", [("embed", "![[n1#Fig 1]]", None, 0)]),
        ("n5", [("wikilink", "[[n1]]", None, 0)]),  # no anchor -> no row
        ("n6", [("wikilink", "[[missing#x]]", None, 0)]),  # unresolved
    ]
    docs = spans_df(spark, _span_rows(rows))
    dict_df = build_alias_dict(tokenize_documents(docs))
    q = qualified_link_edges(docs, dict_df)
    got = sorted(map(tuple, q.collect()))
    assert got == sorted(
        [
            ("n1", "links_to", "n2", "heading", "Intro"),
            ("n2", "links_to", "n1", "block", "blk7"),
            ("n3", "links_to", "n2", "heading", "Deep dive"),
            ("n4", "embeds", "n1", "heading", "Fig 1"),
        ]
    )
    assert_join_follows_threshold(q, join_threshold)


def test_qualified_heading_wins_over_block_and_alias(spark):
    from obsidian_parser_spark.operators.linking import (
        build_alias_dict,
        qualified_link_edges,
    )
    from obsidian_parser_spark.operators.tokenize import tokenize_documents
    from tests.util import spans_df

    rows = [
        ("a", [("wikilink", "[[b#Head^blk|alias]]", None, 0)]),
        ("b", [("text", "y", None, 0)]),
    ]
    docs = spans_df(spark, _span_rows(rows))
    dict_df = build_alias_dict(tokenize_documents(docs))
    got = qualified_link_edges(docs, dict_df).collect()
    assert [tuple(r) for r in got] == [
        ("a", "links_to", "b", "heading", "Head")
    ]


# --- contamination -----------------------------------------------------------


def test_contamination_pairs_exact_copy(spark):
    from obsidian_parser_spark.operators.dedup import contamination_pairs

    text = "one two three four five six seven eight nine ten"
    train = _docs(spark, [(1, text), (2, "totally different words here now")])
    test = _docs(spark, [(100, text)])
    got = contamination_pairs(train, test, n=8, min_shared=2).collect()
    # 10 tokens -> 3 distinct 8-gram shingles, all shared by doc 1
    assert [(r["train_doc"], r["test_doc"], r["n_shared"]) for r in got] == [
        (1, 100, 3)
    ]


def test_contamination_df_cap_drops_boilerplate(spark):
    from obsidian_parser_spark.operators.dedup import contamination_pairs

    text = "a b c d e f g h"  # exactly one 8-gram
    test = _docs(spark, [(i, text) for i in range(100, 105)])
    train = _docs(spark, [(1, text)])
    # the shingle occurs in 5 test docs; cap 4 drops it entirely
    assert (
        contamination_pairs(train, test, n=8, min_shared=1, max_shingle_df=4)
        .count()
        == 0
    )
    assert (
        contamination_pairs(train, test, n=8, min_shared=1, max_shingle_df=5)
        .count()
        == 5
    )


def test_contamination_below_threshold_excluded(spark):
    from obsidian_parser_spark.operators.dedup import contamination_pairs

    shared = "one two three four five six seven eight"
    train = _docs(spark, [(1, shared + " tail1 tail2")])
    test = _docs(spark, [(100, shared + " other tokens")])
    # shares exactly the 1 fully-common shingle
    got = contamination_pairs(train, test, n=8, min_shared=1).collect()
    assert [(r["train_doc"], r["test_doc"], r["n_shared"]) for r in got] == [
        (1, 100, 1)
    ]
    assert contamination_pairs(train, test, n=8, min_shared=2).count() == 0


# --- retrieval stats ---------------------------------------------------------


def _py_retrieval(rows, terms, k):
    toks = {d: [t for t in txt.lower().split() if t] for d, txt in rows}
    out = []
    for term in terms:
        tf = {d: Counter(ts)[term] for d, ts in toks.items()}
        hits = sorted(
            ((d, c) for d, c in tf.items() if c > 0),
            key=lambda x: (-x[1], x[0]),
        )
        df = len(hits)
        for rank, (d, c) in enumerate(hits[:k], 1):
            out.append((term, d, rank, c, len(toks[d]), df, len(rows)))
    return sorted(out)


def test_retrieval_stats_match_python(spark):
    from obsidian_parser_spark.operators.textstats import retrieval_stats

    rows = [
        (1, "spark join join window"),
        (2, "join stream stream"),
        (3, "window window window join"),
        (4, "nothing relevant"),
    ]
    terms = ["join", "window", "stream", "absent"]
    got = sorted(
        map(tuple, retrieval_stats(_docs(spark, rows), terms, k=2).collect())
    )
    assert got == _py_retrieval(rows, terms, 2)


def test_retrieval_rank_ties_break_to_smaller_doc_id(spark):
    from obsidian_parser_spark.operators.textstats import retrieval_stats

    rows = [(7, "x y"), (3, "x z"), (5, "x w")]
    got = retrieval_stats(_docs(spark, rows), ["x"], k=3).collect()
    ranked = sorted((r["rank"], r["doc_id"]) for r in got)
    assert ranked == [(1, 3), (2, 5), (3, 7)]


# --- duplicated spans --------------------------------------------------------


def test_duplicated_spans_finds_shared_boilerplate(spark):
    from obsidian_parser_spark.operators.dedup import duplicated_spans

    bp = "this footer is shared by every page on the site"
    rows = [
        (1, "unique alpha text " + bp),
        (2, "other beta words " + bp),
        (3, "nothing shared here at all in this one really"),
    ]
    got = {
        r["shingle"]: (r["n_docs"], r["first_doc"])
        for r in duplicated_spans(_docs(spark, rows), n=8, min_docs=2).collect()
    }
    # the 10-token boilerplate yields 3 distinct 8-grams; the two carrier
    # docs share exactly the fully-internal ones (suffix positions differ
    # by the distinct prefixes, so shared = windows fully inside bp)
    assert got
    for ndocs, first in got.values():
        assert ndocs == 2 and first == 1
    assert all(all(w in (bp + " text words").split() for w in s.split())
               for s in got)


def test_duplicated_spans_within_doc_repeat_not_counted(spark):
    from obsidian_parser_spark.operators.dedup import duplicated_spans

    s = "a b c d e f g h"
    # repeated INSIDE one doc only -> distinct (doc, shingle) collapses it
    rows = [(1, s + " " + s)]
    assert duplicated_spans(_docs(spark, rows), n=8, min_docs=2).count() == 0


# --- community stats ---------------------------------------------------------


def test_community_stats_two_triangles_bridge(spark):
    from obsidian_parser_spark.operators.graph_metrics import community_stats

    # two triangles joined by one bridge; communities assigned by hand
    pairs = [
        ("a", "b"), ("b", "c"), ("c", "a"),
        ("x", "y"), ("y", "z"), ("z", "x"),
        ("c", "x"),
    ]
    comm = spark.createDataFrame(
        [(n, "left") for n in "abc"] + [(n, "right") for n in "xyz"],
        "id string, community string",
    )
    got = {
        r["community"]: (r["n_nodes"], r["internal_edges"], r["sum_degree"])
        for r in community_stats(_edges(spark, pairs), comm).collect()
    }
    # bridge endpoints c,x have degree 3; internal = 3 each side
    assert got == {"left": (3, 3, 7), "right": (3, 3, 7)}


def test_community_stats_all_cross(spark):
    from obsidian_parser_spark.operators.graph_metrics import community_stats

    comm = spark.createDataFrame(
        [("a", "one"), ("b", "two")], "id string, community string"
    )
    got = {
        r["community"]: (r["n_nodes"], r["internal_edges"], r["sum_degree"])
        for r in community_stats(_edges(spark, [("a", "b")]), comm).collect()
    }
    assert got == {"one": (1, 0, 1), "two": (1, 0, 1)}


# --- skip-gram pairs ---------------------------------------------------------


def test_walk_skipgram_pairs_chain(spark):
    from obsidian_parser_spark.operators.walks import (
        deterministic_walks,
        walk_skipgram_pairs,
    )

    # single path a->b->c->d: a's walk is a,b,c,d (deterministic)
    w = deterministic_walks(
        _edges(spark, [("a", "b"), ("b", "c"), ("c", "d")]), n_steps=3
    )
    got = {
        (r["center"], r["context"]): r["n"]
        for r in walk_skipgram_pairs(w, window=1).collect()
    }
    # walks: a:[a,b,c,d] b:[b,c,d] c:[c,d]
    expect = Counter()
    for walk in (["a", "b", "c", "d"], ["b", "c", "d"], ["c", "d"]):
        for i, center in enumerate(walk):
            for j, ctx in enumerate(walk):
                if i != j and abs(i - j) <= 1:
                    expect[(center, ctx)] += 1
    assert got == dict(expect)


# --- negative sampling -------------------------------------------------------


def test_negative_samples_are_nonedges(spark):
    from obsidian_parser_spark.operators.walks import hash_negative_samples

    pairs = [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"), ("e", "a")]
    got = hash_negative_samples(
        _edges(spark, pairs), n_trials=3, n_buckets=1
    ).collect()
    edge_set = {frozenset(p) for p in pairs}
    assert got, "one bucket must produce candidates on a 5-cycle"
    for r in got:
        assert r["u"] != r["v"]
        assert frozenset((r["u"], r["v"])) not in edge_set
        assert 1 <= r["trial"] <= 3


def test_negative_samples_deterministic_and_capped(spark):
    from obsidian_parser_spark.operators.walks import hash_negative_samples

    pairs = [(f"n{i}", f"n{(i + 1) % 8}") for i in range(8)]
    e = _edges(spark, pairs)
    a = sorted(map(tuple, hash_negative_samples(e, n_trials=2, n_buckets=2).collect()))
    b = sorted(map(tuple, hash_negative_samples(e, n_trials=2, n_buckets=2).collect()))
    assert a == b
    # ≤ one candidate per (node, trial)
    seen = Counter((u, t) for u, v, t in a)
    assert all(c == 1 for c in seen.values())


# --- co-presence edges -------------------------------------------------------


def _ev(spark, rows):
    return spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long"
    )


def test_copresence_pairs_and_threshold(spark):
    import datetime as dt

    from obsidian_parser_spark.operators.events import copresence_edges

    def e(i, h, u):
        return (i, dt.datetime(2024, 1, 1, h, i % 60), u)

    rows = (
        [e(i, 0, u) for i, u in enumerate([1, 2, 3])]      # hour 0: 1,2,3
        + [e(10 + i, 1, u) for i, u in enumerate([1, 2])]  # hour 1: 1,2
        + [e(20 + i, 2, u) for i, u in enumerate([1, 2])]  # hour 2: 1,2
        + [e(30, 3, 9)]                                    # hour 3: 9 alone
    )
    got = {
        (r["user_a"], r["user_b"]): r["n_windows"]
        for r in copresence_edges(_ev(spark, rows), min_windows=2).collect()
    }
    assert got == {(1, 2): 3}
    got_all = {
        (r["user_a"], r["user_b"]): r["n_windows"]
        for r in copresence_edges(_ev(spark, rows), min_windows=1).collect()
    }
    assert got_all == {(1, 2): 3, (1, 3): 1, (2, 3): 1}


def test_copresence_flash_crowd_window_dropped(spark):
    import datetime as dt

    from obsidian_parser_spark.operators.events import copresence_edges

    rows = [(i, dt.datetime(2024, 1, 1, 0, i % 60), i) for i in range(10)]
    assert (
        copresence_edges(
            _ev(spark, rows), min_windows=1, max_users_per_window=9
        ).count()
        == 0
    )
    assert (
        copresence_edges(
            _ev(spark, rows), min_windows=1, max_users_per_window=10
        ).count()
        == 45
    )
