"""Signature computation over document token streams.

The array-expression forms in textstats.py (simhash32, minhash via
``transform``/``aggregate``) are semantically right but Spark evaluates
higher-order functions as CodegenFallback — interpreted per row, ~10×
slower than codegen. Per-document signatures (simhash, fingerprint)
run as map-only Arrow passes: a document's tokens are colocated in its
row, so no explode/shuffle/aggregate is needed at all — the same md5s
and the same order-independent min/±1-vote folds run per row with
numpy. The shingle ROW table (doc_shingle_rows) stays a flat-map
because its consumers (MinHash banding, Jaccard verification) need the
exploded rows; MinHash signatures aggregate those shared rows.

Every fold used (sum of ±1 votes, min of hashes) is order-independent,
so results are bit-identical to the expression forms and to the DuckDB
oracles (pinned by tests).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import hash64


def _spread(narrow: "DataFrame") -> "DataFrame":
    """Gated round-robin repartition for the Arrow signature passes:
    their per-row work (one md5 per token, numpy vote folds) sits
    BEFORE any shuffle, so on a few-row-group corpus scan the whole
    pass runs on the scan's task count no matter the core count
    (measured at sf1: doc_fingerprint 6.9 s in a 2-task stage, and the
    SimHash pair join's signature build likewise). The exchange moves
    only (id, text); the gate makes it a no-op on multi-split corpora
    — at the 100 TB design point the scan parallelizes naturally and
    shuffling the raw text would be a pure loss."""
    spark = narrow.sparkSession
    cpus = spark.sparkContext.defaultParallelism
    if narrow.rdd.getNumPartitions() < max(2, cpus // 2):
        return narrow.repartition(cpus)
    return narrow


def fingerprint_simhash_table(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    bits: int = 32,
) -> DataFrame:
    """(id, fingerprint, simhash) in ONE Arrow map pass — a document's
    tokens are already colocated in its row, so the old explode →
    shuffle-on-id → hash-aggregate round trip (one per signature, plus
    joins back to the doc base) was pure overhead: the same md5s and
    the same order-independent min/±1-vote folds run here per row with
    numpy doing the 32-bit vote matrix. Map-only — zero exchanges at
    any scale. fingerprint is NULL for docs with < k tokens and simhash
    is 0 for zero-token docs, matching the table forms' left-join
    semantics bit-for-bit (pinned by tests)."""
    import re

    import numpy as np

    from ..functions.hashing import hash64_hex_width

    tok_re = re.compile(r"\W+", re.ASCII)
    width = hash64_hex_width

    def gen(batches):
        import hashlib

        import pandas as pd

        md5 = hashlib.md5
        barr = np.arange(bits, dtype=np.int64)
        for pdf in batches:
            ids, fps, sims = [], [], []
            for i, t in zip(pdf[id_col], pdf[text_col]):
                toks = [
                    x for x in tok_re.split(("" if t is None else t).lower()) if x
                ]
                if toks:
                    hs = np.fromiter(
                        (
                            int(md5(tk.encode()).hexdigest()[:width], 16)
                            for tk in toks
                        ),
                        dtype=np.int64,
                        count=len(toks),
                    )
                    votes = (((hs[:, None] >> barr) & 1) * 2 - 1).sum(axis=0)
                    sim = int(((votes > 0).astype(np.int64) << barr).sum())
                else:
                    sim = 0
                if len(toks) >= k:
                    fp = min(
                        int(
                            md5(" ".join(toks[j:j + k]).encode()).hexdigest()[
                                :width
                            ],
                            16,
                        )
                        for j in range(len(toks) - k + 1)
                    )
                else:
                    fp = None
                ids.append(i)
                fps.append(fp)
                sims.append(sim)
            yield pd.DataFrame(
                {
                    "id": ids,
                    "fingerprint": pd.array(fps, dtype="Int64"),
                    "simhash": sims,
                }
            )

    return _spread(docs.select(id_col, text_col)).mapInPandas(
        gen, "id long, fingerprint long, simhash long"
    )


def simhash_table(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", bits: int = 32
) -> DataFrame:
    """(id, simhash): identical output to textstats.simhash32; docs with
    zero tokens get simhash 0. Map-only Arrow pass (see
    fingerprint_simhash_table) — the former explode → 32-vote
    hash-aggregate → join-back plan paid a shuffle and re-scanned the
    doc base for rows this computes in place (A/B at sf0.1: 0.114 →
    0.073 s, bit-identical)."""
    import re

    import numpy as np

    from ..functions.hashing import hash64_hex_width

    tok_re = re.compile(r"\W+", re.ASCII)
    width = hash64_hex_width

    def gen(batches):
        import hashlib

        import pandas as pd

        md5 = hashlib.md5
        barr = np.arange(bits, dtype=np.int64)
        for pdf in batches:
            ids, sims = [], []
            for i, t in zip(pdf[id_col], pdf[text_col]):
                toks = [
                    x for x in tok_re.split(("" if t is None else t).lower()) if x
                ]
                if toks:
                    hs = np.fromiter(
                        (
                            int(md5(tk.encode()).hexdigest()[:width], 16)
                            for tk in toks
                        ),
                        dtype=np.int64,
                        count=len(toks),
                    )
                    votes = (((hs[:, None] >> barr) & 1) * 2 - 1).sum(axis=0)
                    sim = int(((votes > 0).astype(np.int64) << barr).sum())
                else:
                    sim = 0
                ids.append(i)
                sims.append(sim)
            yield pd.DataFrame({"id": ids, "simhash": sims})

    return _spread(docs.select(id_col, text_col)).mapInPandas(
        gen, "id long, simhash long"
    )


def doc_shingle_rows(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    k: int,
    distinct: bool = True,
) -> DataFrame:
    """(id, sh) rows: distinct word k-shingles per document, generated in
    an Arrow ``mapInPandas`` batch instead of the interpreted
    transform/slice HOF expression (~10× faster at 5k docs; the HOF path
    cost ~1.3 ms/doc of expression interpretation).

    Scale: pure map-side — no shuffle; each partition streams its docs
    through one Python worker. The regex is compiled with re.ASCII so
    ``\\W`` matches Java's (and RE2/DuckDB's) ASCII word-class exactly.

    ``id_col`` must be integer-typed (the engine's doc ids are int64).
    """
    import re

    tok_re = re.compile(r"\W+", re.ASCII)

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            ids: list[int] = []
            shs: list[str] = []
            for i, t in zip(pdf[id_col], pdf[text_col]):
                toks = [x for x in tok_re.split(("" if t is None else t).lower()) if x]
                if len(toks) < k:
                    continue
                grams = (" ".join(toks[j : j + k]) for j in range(len(toks) - k + 1))
                for s in set(grams) if distinct else grams:
                    ids.append(i)
                    shs.append(s)
            yield pd.DataFrame({"id": ids, "sh": shs})

    return docs.select(id_col, text_col).mapInPandas(gen, "id long, sh string")


def _doc_shingles_distinct(
    docs: DataFrame, id_col: str, text_col: str, k: int
) -> DataFrame:
    return doc_shingle_rows(docs, id_col, text_col, k, distinct=True)


# Universal-hash MinHash family: perm_i(s) = (a_i * (h(s) mod P) + b_i) mod P
# over ONE portable base hash h (md5-prefix) instead of num_perm salted
# md5s — 16× fewer digest computations, same MinHash guarantees. P is the
# Mersenne prime 2^31-1: h mod P < 2^31 and a_i < 2^31 keep every product
# under 2^62, so the arithmetic is overflow-free int64 in both Spark
# (ANSI mode would abort on overflow) and DuckDB.
MINHASH_P = 2_147_483_647


def minhash_perm_consts(num_perm: int) -> list[tuple[int, int]]:
    """Deterministic (a_i, b_i) pairs, shared with the SQL oracle."""
    return [
        ((i * 2_654_435_761 + 104_729) % MINHASH_P or 1, (i * 40_503 + 11) % MINHASH_P)
        for i in range(num_perm)
    ]


def minhash_table(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_perm: int = 16,
    shingle_rows: DataFrame | None = None,
) -> DataFrame:
    """(id, sig array<long>): min per universal-hash permutation. Docs
    with no k-shingle are absent (no signature — nothing to band).

    ``shingle_rows`` (id, sh string) lets callers share one —
    typically persisted — shingle table across the sig build and a
    verification pass: the Python shingle generation is the expensive
    stage and plan branches would otherwise re-run it per branch."""
    sh = (
        shingle_rows
        if shingle_rows is not None
        else _doc_shingles_distinct(docs, id_col, text_col, k)
    )
    base = sh.select("id", (hash64(F.col("sh")) % MINHASH_P).alias("hm"))
    # the whole signature as ONE parsed aggregate expression — the
    # per-permutation Column form (16 min-aggs + a 16-element array
    # projection) cost 0.33-0.95 s of pure py4j construction per call;
    # int literal * BIGINT hm stays BIGINT, same overflow-free int64
    # arithmetic as the Column form (same fix as the band-key explode)
    terms = ", ".join(
        f"min(({a} * hm + {b}) % {MINHASH_P})"
        for a, b in minhash_perm_consts(num_perm)
    )
    return base.groupBy("id").agg(
        F.expr(f"array({terms})").alias("sig")
    )


