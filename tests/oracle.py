"""Brute-force Python oracles mirroring the reference test strategy
(/root/reference/py_stringsimjoin/tests/test_join.py:33-161): cartesian
product of non-NULL rows, exact sim per pair, threshold, compare pair sets."""

from __future__ import annotations

import math
from collections import defaultdict


def sim_on_sets(measure: str, l_toks: list[str], r_toks: list[str]) -> float:
    ls, rs = set(l_toks), set(r_toks)
    o = len(ls & rs)
    if measure == "overlap":
        return float(o)
    if len(ls) == 0 and len(rs) == 0:
        return 1.0
    if len(ls) == 0 or len(rs) == 0:
        return 0.0
    if measure == "jaccard":
        return o / len(ls | rs)
    if measure == "cosine":
        return o / math.sqrt(len(ls) * len(rs))
    if measure == "dice":
        return 2 * o / (len(ls) + len(rs))
    if measure == "overlap_coefficient":
        return o / min(len(ls), len(rs))
    if measure == "containment":
        return o / len(ls)
    raise ValueError(measure)


def levenshtein(a: str, b: str) -> int:
    if len(a) < len(b):
        a, b = b, a
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def apply_comp(op: str, x, t) -> bool:
    return {
        ">=": x >= t,
        ">": x > t,
        "<=": x <= t,
        "<": x < t,
        "=": x == t,
        "!=": x != t,
    }[op]


def brute_force_set_sim(
    a_rows, b_rows, l_key_i, r_key_i, l_join_i, r_join_i,
    tokenizer, measure, threshold, comp_op=">=", allow_empty=True,
) -> dict:
    """rows are tuples; returns {(l_key, r_key): score}."""
    out = {}
    for la in a_rows:
        if la[l_join_i] is None:
            continue
        lt = tokenizer.tokenize(la[l_join_i])
        for rb in b_rows:
            if rb[r_join_i] is None:
                continue
            rt = tokenizer.tokenize(rb[r_join_i])
            if not allow_empty and (len(set(lt)) == 0 or len(set(rt)) == 0):
                continue
            s = sim_on_sets(measure, lt, rt)
            if apply_comp(comp_op, s, threshold):
                out[(la[l_key_i], rb[r_key_i])] = s
    return out


def brute_force_containment(
    a_rows, b_rows, l_key_i, r_key_i, l_join_i, r_join_i,
    tokenizer, threshold, comp_op=">=", exclude_self_pairs=False,
) -> dict:
    """|l ∩ r| / |l| over non-NULL pairs, allow_empty=False: an empty left
    set pairs with nothing."""
    out = {}
    for la in a_rows:
        if la[l_join_i] is None:
            continue
        lt = tokenizer.tokenize(la[l_join_i])
        if not lt:
            continue
        for rb in b_rows:
            if rb[r_join_i] is None:
                continue
            if exclude_self_pairs and la[l_key_i] == rb[r_key_i]:
                continue
            s = sim_on_sets("containment", lt, tokenizer.tokenize(rb[r_join_i]))
            if apply_comp(comp_op, s, threshold):
                out[(la[l_key_i], rb[r_key_i])] = s
    return out


def brute_force_edit_distance(
    a_rows, b_rows, l_key_i, r_key_i, l_join_i, r_join_i,
    tokenizer, threshold, comp_op="<=",
) -> dict:
    """Mirrors the reference approximation carve-out
    (tests/test_edit_dist_join.py:80-94): drop pairs sharing zero q-grams."""
    out = {}
    for la in a_rows:
        if la[l_join_i] is None:
            continue
        lq = set(tokenizer.tokenize(la[l_join_i]))
        for rb in b_rows:
            if rb[r_join_i] is None:
                continue
            rq = set(tokenizer.tokenize(rb[r_join_i]))
            if not (lq & rq):
                continue
            d = levenshtein(la[l_join_i], rb[r_join_i])
            if apply_comp(comp_op, d, threshold):
                out[(la[l_key_i], rb[r_key_i])] = float(d)
    return out


def bfs_components(edges) -> dict:
    """node -> min node id of its component, for (a, b) edges; null
    endpoints and self-loops add no node."""
    adj = defaultdict(set)
    for a, b in edges:
        if a is None or b is None or a == b:
            continue
        adj[a].add(b)
        adj[b].add(a)
    out = {}
    for start in adj:
        if start in out:
            continue
        seen, todo = {start}, [start]
        while todo:
            for nb in adj[todo.pop()]:
                if nb not in seen:
                    seen.add(nb)
                    todo.append(nb)
        # Python compares str by code point = Spark's UTF-8 byte order
        root = min(seen)
        out.update({n: root for n in seen})
    return out
