"""Entity linking: exact lexicon lookup + MinHash-LSH fuzzy match (G1/G2).

Reference analogue: ``banner.tagging.dictionary.DictionaryTagger`` [P] does
exact lexicon lookup over token n-grams; the graft spec extends this to
fuzzy entity linking: MinHash-LSH blocking over character-3-gram shingles to
produce candidate (mention surface, lexicon alias) pairs, verified by exact
Jaccard, plus an exact alias match for the easy path.

Scale design:
- the lexicon is a dimension table. Up to ``LEX_GATE`` rows it is fetched
  to the driver ONCE (``local_lexicon``) and compiled into a broadcast
  ``LexiconIndex``: deduped, sorted alias keys, a per-band sorted LSH
  index, and each alias's (entity_id, canonical). ``LexiconIndex.link``
  links a batch of surfaces with numpy alone: searchsorted exact lookup,
  then candidates -> exact Jaccard -> per-surface argmax
  (``fuzzy_best_arrays``) on the batch's unique misses. ``link_mentions``
  runs it as one mapInPandas over the mention table (no join, no
  shuffle); the fused mention pass runs the same ``link`` against a copy
  of the index with the component representatives folded in;
- LSH banding turns the all-pairs O(N*M) similarity problem into bucket
  lookups. Above the gate the lexicon cannot live on the driver: the
  exact path is a join against the Spark-deduped lexicon and the
  distributed twin equi-joins band tables on (band_idx, band_hash)
  (``fuzzy_best_distributed``), with no broadcast hint — a lexicon the
  driver cannot hold is no broadcast candidate either, and the planner
  picks the join strategy from its statistics;
- Jaccard verification is a vectorized pass over candidates only.

``LEX_GATE`` is read at call time by ``local_lexicon`` alone, so every
operator (linking, canonicalization, the fused pass) takes the same side
of the gate, and tests can move it. A caller that has already taken the
gate (``run_pipeline`` and ``stream_kg``, through ``fused_broadcast``)
calls ``link_mentions_distributed`` directly instead of fetching the
lexicon again.

The pandas-level helpers (shingles / signatures / bands) are shared with
fixtures.py so golden linking output is identical by construction.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import NamedTuple

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.hashing import hash_str_array, minhash_signatures

NUM_HASHES = 64
NUM_BANDS = 32  # 32 bands x 2 rows: >99% candidate recall at Jaccard 0.4
_BAND_MIX = np.uint64(0x9E3779B97F4A7C15)


_FNV_OFFSET = np.uint64(0xCBF29CE484222325)
_FNV_PRIME = np.uint64(0x100000001B3)


def char3_shingle_ids(surfaces: "pd.Series | np.ndarray") -> list[np.ndarray]:
    """Hashed character-3-gram shingle-id sets per lowercased surface.

    Vectorized: all strings are lowered, concatenated into one byte buffer,
    and every 3-gram position across the whole batch is FNV-1a hashed in
    three vector steps (no per-string Python loop — this runs over FULL
    DOCUMENTS in the dedup path, where a per-doc gram loop was the
    dominant bench cost). Per-string sorted-unique sets come from one
    lexsort over (owner, id). Non-ASCII batches fall back to the exact
    per-string twin (UTF-8 multi-byte grams), same ids by construction.
    """
    n = len(surfaces)
    if n == 0:
        return []
    lowered = [(s or "").lower() for s in surfaces]
    mega = "".join(lowered)
    if not mega.isascii():
        return _char3_shingle_ids_slow(lowered)
    lens = np.fromiter((len(s) for s in lowered), dtype=np.int64, count=n)
    buf = np.frombuffer(mega.encode("ascii"), dtype=np.uint8)
    L = len(buf)
    if L < 3:
        return _char3_shingle_ids_slow(lowered)
    ends = np.cumsum(lens)
    # FNV-1a of every 3-byte window of the WHOLE buffer via shifted views
    # (no per-gram gather); windows that cross a string boundary — which
    # includes every window of a len<3 string — are masked out after.
    h = np.full(L - 2, _FNV_OFFSET, dtype=np.uint64)
    with np.errstate(over="ignore"):
        h ^= buf[: L - 2]
        h *= _FNV_PRIME
        h ^= buf[1 : L - 1]
        h *= _FNV_PRIME
        h ^= buf[2:]
        h *= _FNV_PRIME
    valid = np.ones(L - 2, dtype=bool)
    bad = np.concatenate([ends - 1, ends - 2])
    valid[bad[(bad >= 0) & (bad < L - 2)]] = False
    gpos = np.flatnonzero(valid)
    owner = np.searchsorted(ends, gpos, side="right").astype(np.uint64)
    # single-key sort: (owner << 32) | shingle_id — ids are < 2^32
    combined = (owner << np.uint64(32)) | (h[gpos] % np.uint64(1 << 32))
    combined.sort()
    keep = np.ones(len(combined), dtype=bool)
    keep[1:] = combined[1:] != combined[:-1]
    u = combined[keep]
    ids = (u & np.uint64(0xFFFFFFFF)).astype(np.int64)
    owners_u = (u >> np.uint64(32)).astype(np.int64)
    bounds = np.searchsorted(owners_u, np.arange(n + 1))
    out = [ids[bounds[i] : bounds[i + 1]] for i in range(n)]
    # len-1/2 strings: the whole string is the single gram (rare path)
    for i in np.flatnonzero((lens > 0) & (lens < 3)):
        out[i] = hash_str_array(
            np.array([lowered[i]], dtype=object), 1 << 32
        )
    return out


def _char3_shingle_ids_slow(lowered: list[str]) -> list[np.ndarray]:
    """Per-string exact twin for non-ASCII batches (UTF-8 grams vary in
    byte length, so the stride trick doesn't apply)."""
    out: list[np.ndarray] = []
    for s in lowered:
        if len(s) < 3:
            grams = [s] if s else []
        else:
            grams = [s[i : i + 3] for i in range(len(s) - 2)]
        ids = hash_str_array(np.array(grams, dtype=object), 1 << 32)
        out.append(np.unique(ids))
    return out


def band_hashes(surfaces: "pd.Series | np.ndarray", num_hashes: int = NUM_HASHES,
                num_bands: int = NUM_BANDS) -> np.ndarray:
    """(n, num_bands) int64 LSH band hashes per surface (deterministic)."""
    shingles = char3_shingle_ids(surfaces)
    sigs = minhash_signatures(shingles, num_hashes=num_hashes).astype(np.uint64)
    rows = num_hashes // num_bands
    sigs = sigs.reshape(len(shingles), num_bands, rows)
    h = np.zeros((len(shingles), num_bands), dtype=np.uint64)
    with np.errstate(over="ignore"):
        for r in range(rows):
            h ^= sigs[:, :, r]
            h *= _BAND_MIX
    return (h >> np.uint64(1)).astype(np.int64)  # keep positive


def jaccard_pairs(a: "pd.Series", b: "pd.Series") -> np.ndarray:
    """Exact char-3-gram Jaccard for parallel surface Series.

    Vectorized: each side's shingle sets are individually unique, so after
    one lexsort of (pair_id, shingle_id) over BOTH sides' values, every
    adjacent duplicate within a pair is exactly one intersection element —
    no per-pair set intersection loop.
    """
    sa = char3_shingle_ids(a)
    sb = char3_shingle_ids(b)
    n = len(sa)
    if n == 0:
        return np.empty(0, dtype=np.float64)
    la = np.fromiter((len(x) for x in sa), dtype=np.int64, count=n)
    lb = np.fromiter((len(x) for x in sb), dtype=np.int64, count=n)
    if la.sum() + lb.sum() == 0:
        return np.ones(n, dtype=np.float64)
    values = np.concatenate(sa + sb).astype(np.uint64)
    owners = np.concatenate(
        [np.repeat(np.arange(n, dtype=np.uint64), la),
         np.repeat(np.arange(n, dtype=np.uint64), lb)]
    )
    combined = (owners << np.uint64(32)) | values  # ids are < 2^32
    combined.sort()
    dup = combined[1:] == combined[:-1]
    inter = np.bincount(
        (combined[1:][dup] >> np.uint64(32)).astype(np.int64), minlength=n
    ).astype(np.float64)
    union = (la + lb).astype(np.float64) - inter
    return np.where(la + lb == 0, 1.0, inter / np.maximum(union, 1.0))


_BANDS_SCHEMA = T.StructType(
    [
        T.StructField("surface_key", T.StringType(), False),
        T.StructField("band_idx", T.IntegerType(), False),
        T.StructField("band_hash", T.LongType(), False),
    ]
)


def surface_bands(
    df: DataFrame, surface_col: str = "surface_key", pre_distinct: bool = False
) -> DataFrame:
    """Explode a distinct-surface DataFrame into (surface, band_idx, band_hash).

    ``pre_distinct=True`` skips the dedup shuffle when the caller already
    holds distinct surfaces (re-distincting an already-distinct column is
    a pure-waste Exchange)."""
    narrow = df.select(surface_col) if pre_distinct else df.select(surface_col).distinct()

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            bh = band_hashes(pdf[surface_col])
            n, b = bh.shape
            yield pd.DataFrame(
                {
                    "surface_key": np.repeat(pdf[surface_col].to_numpy(), b),
                    "band_idx": np.tile(np.arange(b, dtype=np.int32), n),
                    "band_hash": bh.reshape(-1),
                }
            )

    return narrow.mapInPandas(run, schema=_BANDS_SCHEMA)


_BEST_SCHEMA = "surface_key string, alias_key string, jaccard double"


def _segmented_argmax(
    owners: np.ndarray, js: np.ndarray, minj: float
) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized per-owner argmax over owner-sorted candidate pairs.

    For every owner segment whose max jaccard >= ``minj``, returns the
    segment's start row (``owner_rows`` — for reading the owner id) and
    the FIRST row attaining the segment max (``best_rows``). Candidates
    are sorted by alias within each owner on both call sites, so
    first-max == lexicographically-smallest alias on ties — identical to
    the scalar walk this replaces (the last per-element Python loop on
    the linking hot path). The equality test is exact: ``reduceat`` max
    returns an element value, no arithmetic.
    """
    n = len(owners)
    starts = np.flatnonzero(np.r_[True, owners[1:] != owners[:-1]])
    seg_max = np.maximum.reduceat(js, starts)
    counts = np.diff(np.r_[starts, n])
    seg_id = np.repeat(np.arange(len(starts)), counts)
    cand = np.flatnonzero(js == seg_max[seg_id])
    seg_of_cand = seg_id[cand]
    first = np.flatnonzero(np.r_[True, seg_of_cand[1:] != seg_of_cand[:-1]])
    best = cand[first]
    keep = seg_max >= minj
    return starts[keep], best[keep]


def band_index(keys_sorted: np.ndarray) -> list[tuple[np.ndarray, np.ndarray]]:
    """Per-band (sorted band hashes, alias rows) over lexicographically
    sorted alias keys — the broadcast LSH index of the dimension-scale
    fuzzy path. ~16 bytes/alias/band instead of hundreds for dict entries
    (at the 100k-alias gate ~50 MB to every executor instead of several
    hundred), and candidate lookup is one vectorized searchsorted per
    band. Alias rows index ``keys_sorted``, so alias-row order IS
    lexicographic order (the tie-break of ``fuzzy_best_arrays``)."""
    per_band: list[tuple[np.ndarray, np.ndarray]] = []
    if len(keys_sorted):
        bh = band_hashes(keys_sorted)
        for b in range(bh.shape[1]):
            order = np.argsort(bh[:, b], kind="stable").astype(np.int64)
            per_band.append((bh[order, b], order))
    return per_band


def fuzzy_best_arrays(
    surfaces: np.ndarray,
    keys_arr: np.ndarray,
    bands_idx: list[tuple[np.ndarray, np.ndarray]],
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Best fuzzy alias per lowercased surface against a ``band_index``:
    LSH candidates -> exact Jaccard -> per-surface argmax, all numpy.
    Returns (surface rows, alias rows, jaccard) for the surfaces whose
    best candidate reaches ``LINK_MIN_JACCARD``; ties go to the
    lexicographically smallest alias. The fuzzy core of
    ``LexiconIndex.link``, which every below-gate linking call runs."""
    n, m = len(surfaces), len(keys_arr)
    none = (np.empty(0, np.int64), np.empty(0, np.int64), np.empty(0, np.float64))
    if not n or not m:
        return none
    men_b = band_hashes(surfaces)
    owner_chunks: list[np.ndarray] = []
    alias_chunks: list[np.ndarray] = []
    for b, (sorted_h, order) in enumerate(bands_idx):
        h = men_b[:, b]
        lo = np.searchsorted(sorted_h, h, side="left")
        hi = np.searchsorted(sorted_h, h, side="right")
        cnt = hi - lo
        total = int(cnt.sum())
        if not total:
            continue
        rep = np.repeat(np.arange(n, dtype=np.int64), cnt)
        within = np.arange(total, dtype=np.int64) - np.repeat(np.cumsum(cnt) - cnt, cnt)
        owner_chunks.append(rep)
        alias_chunks.append(order[lo[rep] + within])
    if not owner_chunks:
        return none
    # dedupe (owner, alias) across bands; unique() sorts, and since aliases
    # were pre-sorted lexicographically the pairs come out grouped by owner
    # with aliases in lexicographic order
    pair_key = np.unique(
        np.concatenate(owner_chunks) * np.int64(m) + np.concatenate(alias_chunks)
    )
    owners = pair_key // m
    alias_idx = pair_key % m
    # ONE vectorized jaccard pass over every candidate pair (the expensive
    # part); the argmax below touches only the few candidates per surface
    js = np.asarray(
        jaccard_pairs(pd.Series(surfaces[owners]), pd.Series(keys_arr[alias_idx])),
        dtype=np.float64,
    )
    o_rows, b_rows = _segmented_argmax(owners, js, LINK_MIN_JACCARD)
    return owners[o_rows], alias_idx[b_rows], js[b_rows]


def fuzzy_best_distributed(
    distinct_surfaces: DataFrame,
    lex: DataFrame,
) -> DataFrame:
    """Large-lexicon fuzzy path (above ``LEX_GATE``): band tables on both
    sides, candidate equi-join on (band_idx, band_hash), then ONE groupBy
    on surface collecting the candidate alias set, with exact-Jaccard
    verify + argmax fused in the same mapInPandas pass. Same output as
    ``fuzzy_best_arrays`` over a ``LexiconIndex`` (tested equal). Shuffle
    ledger on the fact side: candidate groupBy only; the right trade only
    when the lexicon itself is too big for the driver."""
    lex_bands = surface_bands(
        lex.select(F.col("alias_key").alias("surface_key")), pre_distinct=True
    ).withColumnRenamed("surface_key", "alias_key")
    men_bands = surface_bands(distinct_surfaces, pre_distinct=True)
    grouped = (
        men_bands.join(lex_bands, ["band_idx", "band_hash"])
        .groupBy("surface_key")
        .agg(F.sort_array(F.collect_set("alias_key")).alias("aliases"))
    )
    def best(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            surfaces = pdf["surface_key"].to_numpy()
            counts = pdf["aliases"].map(len).to_numpy()
            flat_aliases = [a for row in pdf["aliases"] for a in row]
            if not flat_aliases:
                continue
            owners = np.repeat(np.arange(len(pdf)), counts)
            alias_arr = np.array(flat_aliases, dtype=object)
            js = np.asarray(
                jaccard_pairs(
                    pd.Series(surfaces[owners]), pd.Series(flat_aliases)
                ),
                dtype=np.float64,
            )
            o_rows, b_rows = _segmented_argmax(owners, js, LINK_MIN_JACCARD)
            yield pd.DataFrame(
                {
                    "surface_key": surfaces[owners[o_rows]],
                    "alias_key": alias_arr[b_rows],
                    "jaccard": js[b_rows],
                }
            )

    return grouped.mapInPandas(best, _BEST_SCHEMA)


def _dedup_lex(lexicon: DataFrame) -> DataFrame:
    """The lexicon deduped on lowercased alias (deterministic: min
    entity_id) so the exact join never fans mentions out."""
    from pyspark.sql import Window

    wl = Window.partitionBy("alias_key").orderBy("entity_id", "canonical")
    return (
        lexicon.select(
            F.lower(F.col("alias")).alias("alias_key"),
            "canonical",
            "entity_id",
            F.col("entity_type").alias("lex_entity_type"),
        )
        .withColumn("rn", F.row_number().over(wl))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


LINK_MIN_JACCARD = 0.5  # fuzzy alias acceptance threshold
EDGE_MIN_JACCARD = 0.4  # canonical-surface similarity of an entity edge
# lexicon rows up to which linking and canonicalization run locally
# (``LexiconIndex``, driver union-find); above it the distributed
# band-join and label-propagation twins run. Read only by
# ``local_lexicon``, at call time.
LEX_GATE = 100_000


def local_lexicon(lexicon: DataFrame) -> pd.DataFrame | None:
    """The lexicon as one pandas frame, fetched by ONE limit-toPandas
    job, or None above ``LEX_GATE`` rows. The single gate every linking
    and canonicalization operator takes its path from."""
    gate = LEX_GATE
    lex_pdf = lexicon.limit(gate + 1).toPandas()
    return None if len(lex_pdf) > gate else lex_pdf


def link_mentions(mentions: DataFrame, lexicon: DataFrame) -> DataFrame:
    """mentions + lexicon -> mentions with (entity_id, canonical) columns,
    null where no alias matches.

    Path 1 (G2): exact match of the lowercased surface on an alias.
    Path 2 (G1): for unmatched surfaces, MinHash-LSH candidates against the
    lexicon bands, exact-Jaccard verify, best-match per surface (ties broken
    by alias for determinism). Up to ``LEX_GATE`` lexicon rows both paths
    are ``LexiconIndex.link`` inside ONE mapInPandas over the mentions,
    against a broadcast ``lexicon_index``: no join, no shuffle. Above it,
    an exact join plus the distributed band-join twin
    (``fuzzy_best_distributed``) run, without broadcast hints
    (``link_mentions_distributed``).
    """
    lex_pdf = local_lexicon(lexicon)
    if lex_pdf is not None:
        from ..caching import track_broadcast

        spark = mentions.sparkSession
        bc = track_broadcast(spark.sparkContext.broadcast(lexicon_index(lex_pdf)))

        def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            index = bc.value
            for pdf in batches:
                if len(pdf):
                    keys = pdf["surface"].str.lower().to_numpy(dtype=object)
                    eid, canon = index.link(keys)
                    yield pdf.assign(entity_id=eid, canonical=canon)

        schema = T.StructType(
            mentions.schema.fields
            + [T.StructField("entity_id", T.LongType()), T.StructField("canonical", T.StringType())]
        )
        return mentions.mapInPandas(run, schema=schema)
    return link_mentions_distributed(mentions, lexicon)


def link_mentions_distributed(mentions: DataFrame, lexicon: DataFrame) -> DataFrame:
    """``link_mentions`` above ``LEX_GATE``, for a caller that has already
    taken the gate: the exact join, then ``fuzzy_best_distributed`` for
    the surfaces it leaves unlinked."""
    lex = _dedup_lex(lexicon)
    m = mentions.withColumn("surface_key", F.lower(F.col("surface")))
    exact = m.join(lex, m["surface_key"] == lex["alias_key"], "left").drop(
        "alias_key", "lex_entity_type"
    )
    linked = exact.filter(F.col("entity_id").isNotNull())
    unlinked = exact.filter(F.col("entity_id").isNull()).drop(
        "entity_id", "canonical"
    )
    best = fuzzy_best_distributed(unlinked.select("surface_key").distinct(), lex)
    fuzzy = (
        unlinked.join(best, "surface_key", "left")
        .join(lex, "alias_key", "left")
        .drop("alias_key", "jaccard", "lex_entity_type")
    )
    return linked.unionByName(fuzzy).drop("surface_key")


def entity_edges(lexicon: DataFrame) -> DataFrame:
    """Similarity edges between entity ids whose canonical surfaces are
    near-duplicates (LSH candidates + exact Jaccard verify) — the input to
    canonicalization via connected components (G3).
    """
    ents = lexicon.select("entity_id", F.lower("canonical").alias("surface_key")).distinct()
    bands = surface_bands(ents.select("surface_key").distinct(), pre_distinct=True)
    a = bands.join(ents, "surface_key").select(
        F.col("entity_id").alias("src"),
        F.col("surface_key").alias("ka"),
        "band_idx",
        "band_hash",
    )
    b = bands.join(ents, "surface_key").select(
        F.col("entity_id").alias("dst"),
        F.col("surface_key").alias("kb"),
        "band_idx",
        "band_hash",
    )
    cands = (
        a.join(b, ["band_idx", "band_hash"])
        .filter(F.col("src") < F.col("dst"))
        .select("src", "dst", "ka", "kb")
        .distinct()
    )

    @F.pandas_udf("double")
    def jacc(x: pd.Series, y: pd.Series) -> pd.Series:
        return pd.Series(jaccard_pairs(x, y))

    return (
        cands.withColumn("sim", jacc("ka", "kb"))
        .filter(F.col("sim") >= F.lit(EDGE_MIN_JACCARD))
        .select("src", "dst", "sim")
    )


def entity_edges_pandas(lex_pdf: pd.DataFrame) -> pd.DataFrame:
    """Single-process twin of ``entity_edges`` (same bands, same verify)."""
    ents = (
        lex_pdf.assign(surface_key=lex_pdf["canonical"].str.lower())[
            ["entity_id", "surface_key"]
        ]
        .drop_duplicates()
        .reset_index(drop=True)
    )
    bh = band_hashes(ents["surface_key"].to_numpy())
    index: dict[tuple[int, int], list[int]] = {}
    for i, row in enumerate(bh):
        for bi, h in enumerate(row):
            index.setdefault((bi, int(h)), []).append(i)
    pairs: set[tuple[int, int]] = set()
    for bucket in index.values():
        for x in range(len(bucket)):
            for y in range(x + 1, len(bucket)):
                i, j = bucket[x], bucket[y]
                ei = int(ents["entity_id"][i])
                ej = int(ents["entity_id"][j])
                if ei != ej:
                    pairs.add((min(ei, ej), max(ei, ej), i, j) if ei < ej else (min(ei, ej), max(ei, ej), j, i))
    if not pairs:
        return pd.DataFrame(columns=["src", "dst", "sim"])
    plist = sorted(pairs)
    js = jaccard_pairs(
        pd.Series([ents["surface_key"][p[2]] for p in plist]),
        pd.Series([ents["surface_key"][p[3]] for p in plist]),
    )
    out = pd.DataFrame(
        {
            "src": [p[0] for p in plist],
            "dst": [p[1] for p in plist],
            "sim": js,
        }
    )
    return out[out["sim"] >= EDGE_MIN_JACCARD].reset_index(drop=True)


class LexiconIndex(NamedTuple):
    """Broadcastable lookup structure of a dimension-scale lexicon, built
    locally (``lexicon_index``), so a mention batch links with numpy alone
    (``link``). ``with_reps`` gives the copy whose entities are already
    component representatives: linking AND canonicalization in one
    lookup, the index of the fused mention pass."""

    keys: np.ndarray  # lowercased aliases, deduped, sorted (object)
    bands: list  # band_index(keys)
    entity_id: np.ndarray  # int64 per key
    canonical: np.ndarray  # object per key

    def link(
        self, surface_keys: np.ndarray
    ) -> tuple[pd.api.extensions.ExtensionArray, np.ndarray]:
        """Lowercased surfaces -> (entity_id, canonical), null where no
        alias matches: exact lookup by searchsorted on the sorted keys,
        then ``fuzzy_best_arrays`` on the unique misses only."""
        n, m = len(surface_keys), len(self.keys)
        if not m:
            return pd.array([pd.NA] * n, dtype="Int64"), np.full(n, None, dtype=object)
        row = np.full(n, -1, dtype=np.int64)
        pos = np.minimum(np.searchsorted(self.keys, surface_keys), m - 1)
        hit = self.keys[pos] == surface_keys
        row[hit] = pos[hit]
        miss = ~hit
        if miss.any():
            uniq, inv = np.unique(surface_keys[miss], return_inverse=True)
            s_rows, a_rows, _ = fuzzy_best_arrays(uniq, self.keys, self.bands)
            best = np.full(len(uniq), -1, dtype=np.int64)
            best[s_rows] = a_rows
            row[miss] = best[inv]
        found = row >= 0
        eid = pd.arrays.IntegerArray(self.entity_id[row], ~found)
        canon = self.canonical[row]
        canon[~found] = None
        return eid, canon

    def with_reps(self, reps: pd.DataFrame | None) -> "LexiconIndex":
        """Copy with each alias's (entity_id, canonical) replaced by its
        ``canonical_reps_pandas`` representative; the same index when
        ``reps`` is None (no similarity edges)."""
        if reps is None:
            return self
        eid, canon = self.entity_id.copy(), self.canonical.copy()
        nodes = reps["entity_id"].to_numpy()  # sorted
        pos = np.minimum(np.searchsorted(nodes, eid), len(nodes) - 1)
        has = nodes[pos] == eid
        eid[has] = reps["rep_id"].to_numpy()[pos[has]]
        canon[has] = reps["rep_canonical"].to_numpy()[pos[has]]
        return self._replace(entity_id=eid, canonical=canon)


def canonical_reps_pandas(lex_pdf: pd.DataFrame) -> pd.DataFrame | None:
    """entity_id -> (rep_id, rep_canonical) for every entity in a lexicon
    similarity component: rep_id = min entity_id of the component,
    rep_canonical = the min canonical registered under rep_id. None when
    the lexicon has no similarity edges (canonicalization is then the
    identity). The below-gate path of ``canonical_rep_map`` and the
    representatives of ``LexiconIndex.with_reps``."""
    from .components import connected_components_pandas

    edges = entity_edges_pandas(lex_pdf)
    if len(edges) == 0:
        return None
    comp = connected_components_pandas(edges)
    id2canon = lex_pdf.groupby("entity_id")["canonical"].min()
    return pd.DataFrame(
        {
            "entity_id": comp["node"].to_numpy(dtype=np.int64),
            "rep_id": comp["comp"].to_numpy(dtype=np.int64),
            "rep_canonical": id2canon.reindex(comp["comp"]).to_numpy(dtype=object),
        }
    )


def lexicon_index(lex_pdf: pd.DataFrame) -> LexiconIndex:
    """``LexiconIndex`` of a ``local_lexicon`` frame, each alias mapping to
    its own (entity_id, canonical). Alias dedup as ``_dedup_lex``
    (lowercased alias -> min (entity_id, canonical))."""
    lex = (
        lex_pdf.assign(alias_key=lex_pdf["alias"].str.lower())
        .sort_values(["alias_key", "entity_id", "canonical"], kind="stable")
        .drop_duplicates("alias_key")
    )
    keys = lex["alias_key"].to_numpy(dtype=object)
    return LexiconIndex(
        keys,
        band_index(keys),
        lex["entity_id"].to_numpy(dtype=np.int64),
        lex["canonical"].to_numpy(dtype=object),
    )


def link_surfaces_pandas(
    surfaces: np.ndarray, lex_pdf: pd.DataFrame
) -> pd.DataFrame:
    """Single-process twin of ``link_mentions`` keyed by surface.

    Returns DataFrame(surface_key, entity_id, canonical) for the golden
    generator — same hashes, same bands, same tie-breaks.
    """
    lex = lex_pdf.copy()
    lex["alias_key"] = lex["alias"].str.lower()
    exact_map = (
        lex.sort_values(["alias_key", "entity_id"])
        .drop_duplicates("alias_key")
        .set_index("alias_key")
    )
    keys = pd.Series(pd.unique(pd.Series(surfaces).str.lower()), name="surface_key")
    hit = keys.isin(exact_map.index)
    out_rows = []
    for k in keys[hit]:
        r = exact_map.loc[k]
        out_rows.append((k, int(r["entity_id"]), r["canonical"]))
    miss = keys[~hit]
    if len(miss):
        lex_b = band_hashes(exact_map.index.to_numpy())
        lex_index: dict[tuple[int, int], list[str]] = {}
        for alias, row in zip(exact_map.index, lex_b):
            for bi, bh in enumerate(row):
                lex_index.setdefault((bi, int(bh)), []).append(alias)
        men_b = band_hashes(miss.to_numpy())
        for skey, row in zip(miss, men_b):
            cand: set[str] = set()
            for bi, bh in enumerate(row):
                cand.update(lex_index.get((bi, int(bh)), ()))
            if not cand:
                continue
            cand_list = sorted(cand)
            js = jaccard_pairs(
                pd.Series([skey] * len(cand_list)), pd.Series(cand_list)
            )
            ok = [(j, a) for j, a in zip(js, cand_list) if j >= LINK_MIN_JACCARD]
            if not ok:
                continue
            # tie-break: highest jaccard, then lexicographically smallest alias
            best_j = max(t[0] for t in ok)
            alias = min(a for jj, a in ok if jj == best_j)
            r = exact_map.loc[alias]
            out_rows.append((skey, int(r["entity_id"]), r["canonical"]))
    return pd.DataFrame(
        out_rows, columns=["surface_key", "entity_id", "canonical"]
    )
