"""Single-node INDEPENDENT-IMPLEMENTATION oracle of this engine's
documented record-linkage semantics, in plain Python (hashlib +
union-find). What it proves: the distributed pipeline computes its
spec exactly (same clusters from a from-scratch sequential
implementation sharing no Spark code) — the SURVEY.md §5.3 gate.

Scope (be precise about what "reference parity" means here): the
scoring FORMULAS are re-typed from the reference
(ratio_edit_distance_v2 misc/utils.py:22-26, must-link threshold 0.2
s03_dataset_creator.json:44), but the must-link RULE deliberately
diverges from the reference's subset-clustering rule: the reference
also must-links on whole-word containment ANYWHERE
(one_string_in_another, s02_alias_table_generator.py:29-47), which
over-merges — a contained shortening with SEVERAL completions welds
every completion into one cluster transitively. This engine routes
ALL containment-shaped (token-subset) pairs through prior/context
resolution (scoring.py is_partial → top-1 by mention frequency; a
unique completion resolves identically to a containment link). The
reference's literal containment rule lives where its semantics are
right — leakage-safe subset clustering
(dataset_creator.assign_subsets_leakage_safe). The divergence is
pinned explicitly by
tests/test_operators_divergence::test_containment_rule_divergence.

Blocking hashes come from hashlib, clustering is union-find, and
mention extraction is the reference's per-anchor Python loop
(`_extract_one`, s01:117-274) that the library's Column-expression
extractor is fuzz-checked against (tests/test_mentions.py).
"""

from __future__ import annotations

import hashlib
import re
from collections import defaultdict

MUST_LINK_RATIO = 0.2
SCORE_THRESHOLD = 0.75


# namespaces the reference skips (s01:136-206 ignore rules)
_SKIP_PREFIX = re.compile(r"(?i)^(file|image|category|wikipedia|help|template|special|media|portal|book|draft|user|talk|[a-z\-]{2,3}):")
_ANCHOR = re.compile(r"\[\[(.*?)\]\]")


def _canon_target(t: str) -> str:
    # capitalize first letter + space→underscore, the reference's page
    # title canonicalization (s01:197-206)
    t = t.strip()
    if not t:
        return t
    return (t[0].upper() + t[1:]).replace(" ", "_")


def _extract_one(text: str) -> list[tuple[str, str, int, int]]:
    res = []
    for m in _ANCHOR.finditer(text or ""):
        inner = m.group(1)
        if "|" in inner:
            target, mention = inner.split("|", 1)
            if mention == "":  # pipe trick: [[Title (dab)|]] → "Title"
                mention = re.sub(r"\s*\(.*?\)\s*$", "", target).split(":")[-1]
        else:
            target = mention = inner
        target = target.strip()
        mention = mention.strip()
        if not target or not mention or _SKIP_PREFIX.match(target):
            continue
        res.append((_canon_target(target), mention, m.start() + 1, m.end()))
    return res


def normalize(s: str) -> str:
    return re.sub(" +", " ", s.lower().replace("_", " ")).strip()


def levenshtein(a: str, b: str) -> int:
    if a == b:
        return 0
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def lev_ratio(a: str, b: str) -> float:
    return levenshtein(a, b) / max(len(a), len(b), 1)


def jaccard(a: str, b: str) -> float:
    ta, tb = set(a.split(" ")), set(b.split(" "))
    return len(ta & tb) / max(len(ta | tb), 1)


def jaro(s1: str, s2: str) -> float:
    l1, l2 = len(s1), len(s2)
    if not l1 or not l2:
        return 0.0
    if s1 == s2:
        return 1.0
    md = max(l1, l2) // 2 - 1
    f1, f2 = [False] * l1, [False] * l2
    m = 0
    for i, c in enumerate(s1):
        for j in range(max(0, i - md), min(l2, i + md + 1)):
            if not f2[j] and s2[j] == c:
                f1[i] = f2[j] = True
                m += 1
                break
    if not m:
        return 0.0
    t = k = 0
    for i in range(l1):
        if f1[i]:
            while not f2[k]:
                k += 1
            t += s1[i] != s2[k]
            k += 1
    t //= 2
    return (m / l1 + m / l2 + (m - t) / m) / 3


def jaro_winkler(a: str, b: str) -> float:
    j = jaro(a, b)
    if j <= 0.7:
        return j
    p = 0
    for x, y in zip(a[:4], b[:4]):
        if x != y:
            break
        p += 1
    return j + p * 0.1 * (1 - j)


def minhash_band_keys(surface: str, n_hashes: int = 12, bands: int = 6, k: int = 3) -> list[str]:
    s = normalize(surface)
    shingles = [s[i : i + k] for i in range(max(len(s) - k + 1, 1))]
    sig = [
        min(hashlib.md5(f"mh{seed}:{sh}".encode()).hexdigest() for sh in shingles)
        for seed in range(n_hashes)
    ]
    rpb = n_hashes // bands
    return [f"L{b}:" + "|".join(sig[b * rpb : (b + 1) * rpb]) for b in range(bands)]


class UnionFind:
    def __init__(self):
        self.p = {}

    def find(self, x):
        self.p.setdefault(x, x)
        while self.p[x] != x:
            self.p[x] = self.p[self.p[x]]
            x = self.p[x]
        return x

    def union(self, a, b):
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            if rb < ra:
                ra, rb = rb, ra
            self.p[rb] = ra


def cluster_transcripts(rows, snapshots: list[str]) -> dict[str, str]:
    """rows: iterable of (conv_id, turn_idx, text, ts: datetime).
    Returns {snapshot@mention_id: component_label} mirroring the
    pipeline semantics: clustering runs on the DISTINCT SURFACE
    vocabulary per snapshot (identical surfaces are must-links by
    definition), mentions inherit their surface's component."""
    import datetime as dt

    cuts = [dt.datetime.strptime(s, "%Y-%m-%d %H:%M:%S") for s in snapshots]

    mentions = []  # (snap, mention_id, surface)
    for conv_id, turn_idx, text, ts in rows:
        snap = min((c for c in cuts if ts <= c), default=None)
        if snap is None:
            continue
        for _target, m, s, _e in _extract_one(text):
            mentions.append((snap, f"{conv_id}:{turn_idx}:{s}", m))

    surfaces = sorted({(snap, surf) for snap, _mid, surf in mentions})

    # NORM pivot (mirrors pipeline round 2): same-norm surfaces are
    # must-links by definition, so all pairwise work runs on distinct
    # normalized forms with frequencies summed per norm — the
    # reference's own alias-table granularity (s02:253-267).
    norm_of = {(snap, surf): normalize(surf) for snap, surf in surfaces}
    norms = sorted({(snap, norm_of[(snap, surf)]) for snap, surf in surfaces})
    freq: dict[tuple, int] = defaultdict(int)
    for snap, _mid, surf in mentions:
        freq[(snap, norm_of[(snap, surf)])] += 1

    # blocking on norms: sorted-token + prefix-2 + minhash bands
    # (self-join blocks) plus the BIPARTITE first-token block
    # (single-token abbreviations × multi-token full forms only —
    # mirrors pipeline's hot-key guardrail)
    blocks = defaultdict(list)
    fblocks = defaultdict(lambda: ([], []))  # key -> (abbrs, fulls)
    for snap, n in norms:
        blocks[(snap, "S:" + " ".join(sorted(set(n.split(" ")))))].append(n)
        toks = n.split(" ")
        if len(toks) == 1:
            fblocks[(snap, toks[0])][0].append(n)
        else:
            fblocks[(snap, toks[0])][1].append(n)
            # first-2-tokens prefix key (mirrors pipeline P: block)
            blocks[(snap, "P:" + " ".join(toks[:2]))].append(n)
        for bk in minhash_band_keys(n):
            blocks[(snap, bk)].append(n)

    pairs = set()
    for (snap, _bk), members in blocks.items():
        ms = sorted(set(members))
        for i in range(len(ms)):
            for j in range(i + 1, len(ms)):
                pairs.add((snap, ms[i], ms[j]))
    for (snap, _tok), (abbrs, fulls) in fblocks.items():
        for a in set(abbrs):
            for f in set(fulls):
                pairs.add((snap, min(a, f), max(a, f)))
    # sorted-neighborhood pass (shared SN_WINDOW, mirrors the
    # pipeline's sorted_neighborhood_pairs union): each norm pairs
    # with its next window−1 lexicographic neighbors per snapshot —
    # the first-token-typo recall path no token/LSH key covers
    # deterministically
    from tempel_spark.operators.blocking import SN_WINDOW

    by_snap = defaultdict(list)
    for snap, n in norms:
        by_snap[snap].append(n)
    for snap, ns in by_snap.items():
        ns = sorted(ns)
        for i in range(len(ns)):
            for j in range(i + 1, min(i + SN_WINDOW, len(ns))):
                pairs.add((snap, ns[i], ns[j]))

    uf = UnionFind()
    for snap, n in norms:
        uf.find((snap, n))

    # pass 1: must-link / plain score edges + the anchored set
    # (surfaces must-linked to a strictly longer surface); pass 2:
    # prior-ranked resolution of unanchored PARTIAL (token-subset)
    # pairs — mirrors score_pairs is_partial + abbreviation_edges
    # anchored-source exclusion.
    partials = []
    anchored = set()
    for snap, sa, sb in sorted(pairs):
        na, nb = normalize(sa), normalize(sb)
        lr = lev_ratio(na, nb)
        jc = jaccard(na, nb)
        jw = jaro_winkler(na, nb)
        score = 0.45 * jw + 0.30 * (1 - lr) + 0.25 * jc
        ta, tb = na.split(" "), nb.split(" ")
        subset = not (set(ta) - set(tb)) or not (set(tb) - set(ta))
        # must-link = the reference ratio rule alone; all different-
        # count subsets (incl. prefixes) resolve by prior top-1
        must = lr < MUST_LINK_RATIO
        partial = subset and not must and len(ta) != len(tb)
        if must:
            uf.union((snap, sa), (snap, sb))
            if len(ta) < len(tb):
                anchored.add((snap, sa))
            elif len(tb) < len(ta):
                anchored.add((snap, sb))
        elif score >= SCORE_THRESHOLD and not partial:
            uf.union((snap, sa), (snap, sb))
        elif partial:
            partials.append((snap, sa, sb, score, len(ta), len(tb)))

    abbrev_best = {}
    for snap, sa, sb, score, la, lb in partials:
        src, full = (sa, sb) if la <= lb else (sb, sa)
        if (snap, src) in anchored:
            continue
        key = (snap, src)
        cand = (-freq[(snap, full)], -score, sa, sb)
        if key not in abbrev_best or cand < abbrev_best[key]:
            abbrev_best[key] = cand
    for (snap, _src), (_f, _s, sa, sb) in abbrev_best.items():
        uf.union((snap, sa), (snap, sb))

    # cluster label = lexicographically smallest SURFACE of the norm
    # cluster (mirrors the pipeline's relabel; the star-CC min and
    # this union-find min coincide)
    label: dict[tuple, str] = {}
    for snap, surf in surfaces:
        root = uf.find((snap, norm_of[(snap, surf)]))
        if root not in label or surf < label[root]:
            label[root] = surf
    return {
        f"{snap}@{mid}": label[uf.find((snap, norm_of[(snap, surf)]))]
        for snap, mid, surf in mentions
    }


def pairwise_f1_partitions(pred: dict, gold: dict) -> float:
    """pred/gold: {item: label} over the same item set."""
    def pair_set(d):
        groups = defaultdict(list)
        for k, v in d.items():
            groups[v].append(k)
        s = set()
        for members in groups.values():
            members.sort()
            for i in range(len(members)):
                for j in range(i + 1, len(members)):
                    s.add((members[i], members[j]))
        return s

    p, g = pair_set(pred), pair_set(gold)
    if not p and not g:
        return 1.0
    tp = len(p & g)
    prec = tp / len(p) if p else 1.0
    rec = tp / len(g) if g else 1.0
    return 2 * prec * rec / (prec + rec) if prec + rec else 0.0
