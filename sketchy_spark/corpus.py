"""Deterministic synthetic source-code corpus with planted duplicate clusters.

Implements FIXTURES.md §1: table (repo, path, commit, lang, content) — the
``BASELINE.json input_hint`` shape — generated fully from the row id, so the
corpus can be rendered distributed (mapInPandas over ``spark.range``) with no
driver-side state and no external data. Per 200-row block:

- rows   0-119 : singletons (unique content, negative class)
- rows 120-149 : exact-duplicate groups (10 groups x 3; identical content,
                 different repo/path — analogue of self-match == s,
                 /root/reference/docs/index.md:149)
- rows 150-179 : near-duplicate groups (10 groups x 3; 1-5% of lines mutated)
- rows 180-189 : containment pairs (5 pairs; member 0 embedded verbatim in
                 member 1 — exercises the fingerprint containment pass)
- rows 190-199 : boilerplate skew (10 rows sharing one global 1500-char
                 license header, unique bodies — hot band keys, NOT dups)

Ground truth kinds: 'singleton', 'exact', 'near', 'containment_small',
'containment_big', 'boilerplate'. Dup-pair truth = intra-cluster pairs of
kinds exact/near; containment pairs are tracked as their own relation.
"""

from __future__ import annotations

import hashlib
import random

import numpy as np
import pandas as pd

BLOCK = 200
LANGS = ["py", "py", "py", "py", "rs", "rs", "js", "js", "java", "go"]  # 40% py
_EXT = {"py": "py", "rs": "rs", "js": "js", "java": "java", "go": "go"}

_KEYWORDS = [
    "def", "fn", "let", "return", "import", "class", "struct", "impl", "if",
    "else", "for", "while", "match", "pub", "static", "const", "var", "func",
    "package", "void", "int", "self", "new", "try", "catch", "raise", "yield",
]
_IDENTS = [f"sym_{i:03d}" for i in range(160)]

# One global header shared by every boilerplate row in every block -> one
# genuinely hot shingle region (exercises the hot band keys + AQE skew join).
_LICENSE = (
    "// Licensed under the Apache License, Version 2.0 (the License); "
    "you may not use this file except in compliance with the License. "
    "You may obtain a copy of the License at http://www.apache.org/licenses/"
    "LICENSE-2.0 Unless required by applicable law or agreed to in writing, "
    "software distributed under the License is distributed on an AS IS BASIS, "
    "WITHOUT WARRANTIES OR CONDITIONS OF ANY KIND, either express or implied. "
    "See the License for the specific language governing permissions and "
    "limitations under the License. All rights reserved to the original "
    "authors and contributors of this repository collection. "
)
_LICENSE = (_LICENSE * 4)[:1500]


def _rng(*parts) -> random.Random:
    return random.Random(":".join(str(p) for p in parts))


def _line(r: random.Random) -> str:
    toks = [r.choice(_KEYWORDS)] + [
        r.choice(_IDENTS) for _ in range(r.randint(3, 9))
    ]
    return "    " * r.randint(0, 2) + " ".join(toks)


def _proto_lines(seed: int, block: int, group: int) -> list[str]:
    r = _rng(seed, "proto", block, group)
    n_lines = r.randint(12, 110)
    return [_line(r) for _ in range(n_lines)]


def _mutate(lines: list[str], r: random.Random) -> list[str]:
    """Mutate 1-5% of lines (replace / insert / delete)."""
    out = list(lines)
    n_mut = max(1, int(len(out) * r.uniform(0.01, 0.05)))
    for _ in range(n_mut):
        op = r.choice(("replace", "insert", "delete"))
        i = r.randrange(len(out))
        if op == "replace":
            out[i] = _line(r)
        elif op == "insert":
            out.insert(i, _line(r))
        elif len(out) > 2:
            del out[i]
    return out


def _row_kind(pos: int) -> tuple[str, str, int]:
    """(kind, local_cluster, member) from position within a block."""
    if pos < 120:
        return "singleton", f"s{pos}", 0
    if pos < 150:
        g, m = divmod(pos - 120, 3)
        return "exact", f"e{g}", m
    if pos < 180:
        g, m = divmod(pos - 150, 3)
        return "near", f"n{g}", m
    if pos < 190:
        g, m = divmod(pos - 180, 2)
        kind = "containment_small" if m == 0 else "containment_big"
        return kind, f"c{g}", m
    return "boilerplate", f"b{pos - 190}", 0


def render_rows(ids: np.ndarray, seed: int = 42) -> pd.DataFrame:
    """Render corpus rows for the given row ids (deterministic per id)."""
    recs = []
    for i in ids.tolist():
        block, pos = divmod(int(i), BLOCK)
        kind, local, member = _row_kind(pos)
        cluster = f"b{block}.{local}"
        if kind == "singleton":
            lines = _proto_lines(seed, block, f"single{pos}")
            content = "\n".join(lines)
        elif kind == "exact":
            content = "\n".join(_proto_lines(seed, block, local))
        elif kind == "near":
            lines = _proto_lines(seed, block, local)
            if member > 0:
                lines = _mutate(lines, _rng(seed, "mut", block, local, member))
            content = "\n".join(lines)
        elif kind == "containment_small":
            lines = _proto_lines(seed, block, local)[:20]
            content = "\n".join(lines)
        elif kind == "containment_big":
            small = "\n".join(_proto_lines(seed, block, local)[:20])
            r = _rng(seed, "wrap", block, local)
            pre = "\n".join(_line(r) for _ in range(r.randint(20, 50)))
            post = "\n".join(_line(r) for _ in range(r.randint(20, 50)))
            content = pre + "\n" + small + "\n" + post
        else:  # boilerplate
            r = _rng(seed, "boil", block, local)
            body = "\n".join(_line(r) for _ in range(r.randint(40, 80)))
            content = _LICENSE + "\n" + body
        lang = LANGS[int(hashlib.sha1(cluster.encode()).hexdigest(), 16) % 10]
        repo = f"org{int(i) % 7}/repo{int(i) % 23}"
        path = f"src/mod{int(i) % 11}/file{int(i)}.{_EXT[lang]}"
        commit = hashlib.sha1(f"{seed}:{i}".encode()).hexdigest()
        recs.append((repo, path, commit, lang, content, int(i), cluster, kind))
    return pd.DataFrame(
        recs,
        columns=[
            "repo", "path", "commit", "lang", "content",
            "row_id", "cluster_id", "kind",
        ],
    )


FILES_COLUMNS = ["repo", "path", "commit", "lang", "content"]


def corpus_pandas(n: int, seed: int = 42) -> pd.DataFrame:
    """Driver-side corpus (files columns only) for small tests."""
    return render_rows(np.arange(n), seed)[FILES_COLUMNS]


def truth_pandas(n: int, seed: int = 42) -> pd.DataFrame:
    """(file_id, cluster_id, kind) golden labels; file_id = repo/path."""
    df = render_rows(np.arange(n), seed)
    df["file_id"] = df["repo"] + "/" + df["path"]
    return df[["file_id", "cluster_id", "kind"]]


def truth_dup_pairs(truth: pd.DataFrame) -> set[tuple[str, str]]:
    """Golden near/exact dup pairs: intra-cluster unordered pairs."""
    dup = truth[truth["kind"].isin(["exact", "near"])]
    pairs: set[tuple[str, str]] = set()
    for _, grp in dup.groupby("cluster_id"):
        members = sorted(grp["file_id"])
        for i in range(len(members)):
            for j in range(i + 1, len(members)):
                pairs.add((members[i], members[j]))
    return pairs


def truth_containment_pairs(truth: pd.DataFrame) -> set[tuple[str, str]]:
    """(small_file_id, big_file_id) planted containment pairs."""
    cont = truth[truth["kind"].str.startswith("containment")]
    out: set[tuple[str, str]] = set()
    for _, grp in cont.groupby("cluster_id"):
        small = grp[grp["kind"] == "containment_small"]["file_id"]
        big = grp[grp["kind"] == "containment_big"]["file_id"]
        if len(small) and len(big):
            out.add((small.iloc[0], big.iloc[0]))
    return out


def corpus_df(spark, n: int, seed: int = 42, partitions: int | None = None):
    """Distributed corpus as a Spark DataFrame (files columns only).

    Rendered with mapInPandas over ``spark.range(n)`` — scales to any n with
    no driver materialization (the 100 TB path: swap this source for the real
    Iceberg files table; everything downstream is unchanged).
    """
    import pyspark.sql.functions as F  # noqa: F401

    schema = ("repo string, path string, commit string, lang string, "
              "content string")
    rng = spark.range(n)
    if partitions:
        rng = rng.repartition(partitions)

    def gen(batches):
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            yield render_rows(ids, seed)[FILES_COLUMNS]

    return rng.mapInPandas(gen, schema=schema)
