"""Seeded input generators. The same seed gives byte-identical files.

Entities follow the reference payload shape (a flat record of string fields
plus the numeric ``updatedOnMs``). An entity's content is a pure function of
``(seed, type, key, version)``: a content change bumps the version, a refresh
keeps it and only moves ``updatedOnMs``.

Documents carry planted near-duplicate clusters. Every pair inside a cluster
has a word 3-shingle Jaccard of at least ``MIN_CLUSTER_JACCARD``, and no
shingle is shared between clusters, so every cross-cluster Jaccard is 0. The
generator checks both facts on the sets it wrote.
"""

from __future__ import annotations

import hashlib
import os
import random
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TS_FIELD = "updatedOnMs"

# Per type: (id field, string fields in payload order, status field, the
# projected name of the status field). The status field embeds the content
# version, so the checks can see which version of a key was emitted.
ENTITY_TYPES = {
    "awsEc2": (
        "AWSUniqueId",
        [
            "AWSUniqueId", "aws_account_id", "aws_arn", "aws_architecture",
            "aws_availability_zone", "aws_hypervisor", "aws_image_id",
            "aws_instance_id", "aws_instance_type", "aws_launch_time",
            "aws_private_dns_name", "aws_region", "aws_reservation_id",
            "aws_root_device_type", "aws_state", "aws_state_reason",
            "aws_tag_Name", "aws_vpc_id",
        ],
        "aws_state_reason",
        "hardware_substatus",
    ),
}

_WORDS = (
    "running stopped pending shutting terminated standard premium spot "
    "web api worker batch cache queue store edge core data ml etl"
).split()


def _h(*parts) -> int:
    digest = hashlib.blake2b(
        "\x1f".join(map(str, parts)).encode(), digest_size=8
    ).digest()
    return int.from_bytes(digest, "little")


_M1 = np.uint64(0xBF58476D1CE4E5B9)
_M2 = np.uint64(0x94D049BB133111EB)
_KEY_MUL = np.uint64(0x9E3779B97F4A7C15)
_VER_MUL = np.uint64(0xD6E8FEB86659FD93)


def _mix(x: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer over a uint64 array (wrapping arithmetic)."""
    x = x ^ (x >> np.uint64(30))
    x = x * _M1
    x = x ^ (x >> np.uint64(27))
    x = x * _M2
    return x ^ (x >> np.uint64(31))


def _field_hash(seed, etype, field, keys, versions=None) -> np.ndarray:
    x = (keys.astype(np.uint64) * _KEY_MUL) ^ np.uint64(_h(seed, etype, field))
    if versions is not None:
        x = x ^ (versions.astype(np.uint64) * _VER_MUL)
    return _mix(x)


def status_values(seed: int, etype: str, keys, versions) -> list[str]:
    """The status field of each ``(key, version)``; it names the version."""
    keys, versions = np.asarray(keys), np.asarray(versions)
    h = _field_hash(seed, etype, "status", keys, versions)
    return [
        f"{_WORDS[w]} rev{v}"
        for w, v in zip((h % np.uint64(5)).tolist(), versions.tolist())
    ]


def entity_columns(seed: int, etype: str, keys, versions) -> dict[str, list[str]]:
    """The content of entity versions ``(key, version)`` (everything but
    ``updatedOnMs``), one list per field. A third of the fields and the
    status change with the version. Values avoid the characters Handlebars
    escapes, so a template renders them verbatim."""
    id_field, fields, status_field, _ = ENTITY_TYPES[etype]
    keys, versions = np.asarray(keys), np.asarray(versions)
    cols = {}
    for i, f in enumerate(fields):
        h = _field_hash(seed, etype, f, keys, versions if i % 3 == 0 else None)
        words = (h % np.uint64(len(_WORDS))).tolist()
        tails = (h >> np.uint64(40)).tolist()
        cols[f] = [f"{_WORDS[w]}-{t:06x}" for w, t in zip(words, tails)]
    key_list = keys.tolist()
    cols[id_field] = [entity_id(etype, k) for k in key_list]
    cols[status_field] = status_values(seed, etype, keys, versions)
    # every 7th instance has no Name tag: the projections fall back to the
    # instance id (first_nonempty / {{#with}})
    cols["aws_tag_Name"] = [
        "" if k % 7 == 0 else v for k, v in zip(key_list, cols["aws_tag_Name"])
    ]
    cols["aws_state"] = [
        "{Code: 16,Name: " + _WORDS[k % 5] + "}" for k in key_list
    ]
    return cols


def entity_id(etype: str, key: int) -> str:
    return f"{etype[:3]}-{key:07d}"


def entity_key(rid: str) -> int:
    return int(rid[4:])


@dataclass(frozen=True)
class PageRow:
    key: int
    version: int
    ts: int


def write_entity_page(path: str, seed: int, etype: str, rows: list[PageRow]) -> int:
    """Write one fetched page as parquet; returns the row count."""
    fields = ENTITY_TYPES[etype][1]
    cols = entity_columns(
        seed, etype, [r.key for r in rows], [r.version for r in rows]
    )
    table = pa.table(
        {**{f: pa.array(cols[f], pa.string()) for f in fields},
         TS_FIELD: pa.array([r.ts for r in rows], pa.int64())}
    )
    pq.write_table(table, path)
    return len(rows)


class EntityPopulation:
    """Key population of one type: current content version per key and a
    seeded Zipf popularity over a seeded permutation of the keys."""

    def __init__(self, seed: int, etype: str, n_keys: int, zipf_s: float):
        self.seed, self.etype, self.n = seed, etype, n_keys
        self.version = np.zeros(n_keys, dtype=np.int64)
        rng = np.random.default_rng(_h(seed, etype, "perm"))
        rank = rng.permutation(n_keys)
        self.log_weight = -zipf_s * np.log1p(rank.astype(np.float64))
        self.rng = np.random.default_rng(_h(seed, etype, "pages"))

    def zipf_sample(self, k: int) -> np.ndarray:
        """k distinct keys, drawn without replacement in proportion to the
        Zipf weights (Efraimidis-Spirakis keys, computed in log space)."""
        u = self.rng.random(self.n)
        keys = np.log(u) * np.exp(-self.log_weight)
        return np.sort(np.argpartition(-keys, k)[:k])

    def page(
        self,
        t_prev: int,
        t_now: int,
        share: float,
        change_share: float,
        dup_share: float,
        boundary_rows: int,
        boundary_ts: int,
    ) -> list[PageRow]:
        """One cron fetch over ``(t_prev, t_now]``.

        - ``share`` of the keys, Zipf-skewed; ``change_share`` of them carry
          a new content version, the rest only a new ``updatedOnMs``;
        - ``dup_share`` of them appear twice: an intermediate version and a
          later final version (last write wins within a page);
        - ``boundary_rows`` extra rows stamped exactly ``boundary_ts`` (the
          last checkpoint, at most ``t_prev``) that carry a new version: an
          inclusive source re-sends them, the strict incremental scan must
          drop them.
        """
        picked = self.zipf_sample(max(1, int(self.n * share)))
        span = t_now - t_prev
        rows: list[PageRow] = []
        for key in picked.tolist():
            ts = t_prev + 2 + int(self.rng.integers(0, span - 2))
            r = self.rng.random()
            if r < dup_share:
                self.version[key] += 1
                rows.append(PageRow(key, int(self.version[key]), ts - 1))
                self.version[key] += 1
            elif r < dup_share + change_share:
                self.version[key] += 1
            rows.append(PageRow(key, int(self.version[key]), ts))
        chosen = set(picked.tolist())
        extra = [k for k in self.rng.permutation(self.n)[: boundary_rows * 4].tolist()
                 if k not in chosen][:boundary_rows]
        for key in extra:
            rows.append(PageRow(key, int(self.version[key]) + 1000, boundary_ts))
        order = self.rng.permutation(len(rows))
        return [rows[i] for i in order.tolist()]

    def seed_page(self, t_prev: int, t_now: int) -> list[PageRow]:
        """Every key at its current version: the first full sync."""
        span = t_now - t_prev
        ts = t_prev + 1 + self.rng.integers(0, span - 1, self.n)
        return [PageRow(k, int(self.version[k]), int(ts[k])) for k in range(self.n)]


# ---------------------------------------------------------------- documents

STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it")
DOC_TOKENS = 60
MIN_CLUSTER_JACCARD = 0.6


def shingle_set(text: str, k: int = 3) -> set[str]:
    toks = [t for t in text.lower().split() if t]
    return {" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)}


def _doc_tokens(rng: random.Random, vocab_tag: str) -> list[str]:
    # a stopword every fourth token keeps the quality gate's stopword ratio
    # at 0.25, and leaves two fresh words in every 3-shingle
    return [
        STOPWORDS[rng.randrange(len(STOPWORDS))] if i % 4 == 3
        else f"{vocab_tag}{rng.randrange(1 << 30):x}"
        for i in range(DOC_TOKENS)
    ]


def _variant(base: list[str], rng: random.Random, tag: str) -> list[str]:
    """A near duplicate: two non-stopword tokens replaced."""
    out = list(base)
    slots = [i for i in range(len(out)) if i % 4 != 3]
    for i in rng.sample(slots, 2):
        out[i] = f"{tag}{rng.randrange(1 << 30):x}"
    return out


@dataclass
class DocFile:
    path: str
    ids: list[int]


def write_doc_files(
    out_dir: str, seed: int, n_files: int, docs_per_file: int,
    open_p: float, join_p: float,
) -> tuple[list[DocFile], dict[int, int]]:
    """Write ``n_files`` parquet files of ``(doc_id, text, source)``.

    Doc ids increase with file order. A fresh doc opens a near-duplicate
    cluster of 2 to 4 members with probability ``open_p``; each later slot
    places the next member of an open cluster with probability ``join_p``,
    so members land in the same or later files. Returns the files and
    ``doc_id -> cluster id`` (a singleton is its own cluster)."""
    rng = random.Random(_h(seed, "docs"))
    total = n_files * docs_per_file
    # slot -> cluster: open clusters hand out members to later slots
    cluster_of: dict[int, int] = {}
    bases: dict[int, list[str]] = {}
    pending: list[tuple[int, int]] = []  # (cluster, members still to place)
    texts: list[str] = []
    for doc_id in range(total):
        if pending and rng.random() < join_p:
            j = rng.randrange(len(pending))
            cid, left = pending[j]
            toks = _variant(bases[cid], rng, f"v{doc_id}x")
            if left <= 1:
                pending.pop(j)
            else:
                pending[j] = (cid, left - 1)
        else:
            cid = doc_id
            toks = _doc_tokens(rng, f"d{doc_id}x")
            if rng.random() < open_p:
                bases[cid] = toks
                pending.append((cid, rng.randint(1, 3)))
        cluster_of[doc_id] = cid
        texts.append(" ".join(toks))
    _check_clusters(texts, cluster_of)

    os.makedirs(out_dir, exist_ok=True)
    files = []
    for f in range(n_files):
        ids = list(range(f * docs_per_file, (f + 1) * docs_per_file))
        table = pa.table({
            "doc_id": pa.array(ids, pa.int64()),
            "text": pa.array([texts[i] for i in ids], pa.string()),
            "source": pa.array([f"site{_h(seed, i) % 11}" for i in ids], pa.string()),
        })
        path = os.path.join(out_dir, f"docs-{f:04d}.parquet")
        pq.write_table(table, path)
        files.append(DocFile(path, ids))
    return files, cluster_of


def _check_clusters(texts: list[str], cluster_of: dict[int, int]) -> None:
    owner: dict[str, int] = {}
    members: dict[int, list[set[str]]] = {}
    for doc_id, text in enumerate(texts):
        cid = cluster_of[doc_id]
        sh = shingle_set(text)
        members.setdefault(cid, []).append(sh)
        for s in sh:
            if owner.setdefault(s, cid) != cid:
                raise ValueError(f"shingle {s!r} shared across clusters")
    for cid, sets in members.items():
        for i in range(len(sets)):
            for j in range(i + 1, len(sets)):
                a, b = sets[i], sets[j]
                if len(a & b) / len(a | b) < MIN_CLUSTER_JACCARD:
                    raise ValueError(f"cluster {cid} pair below threshold")
