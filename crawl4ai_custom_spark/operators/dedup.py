"""Deduplication family for training-data pipelines over the documents table.

Five dedup strategies, each a pure DataFrame transform returning the same
shape (so they compose with downstream filtering):

  exact_dedup          md5(normalized text) groupBy — exact duplicates
  minhash_lsh_dedup    shingle -> minhash signature -> LSH band buckets ->
                       candidate pairs (near-duplicates at Jaccard >= ~t)
  simhash_dedup        64-bit simhash of token stream; Hamming-near pairs
                       via band partitioning
  ngram_jaccard_dedup  exact n-gram Jaccard over candidate pairs
  embedding_cosine_dedup  cosine >= threshold pairs over embedding vectors

plus the corpus-global C4 cleaners: line_dedup (drop lines occurring in
more than N distinct docs) and span_dedup (keep only the first occurrence
of any duplicated run of 3 consecutive sentences).

Scale notes:
- all hashing uses the oracle-reproducible stable 60-bit md5 hash
  (operators/urlops.stable_hash60) so DuckDB can verify results exactly;
- minhash permutations are (a*h + b) mod p affine maps — computed as native
  Spark expressions over the exploded shingle table: NO Python UDF in the
  minhash path;
- LSH banding turns the O(n^2) pair space into groupBy(band_hash) joins —
  the classic shuffle-bound-but-linear pattern; band count tunes recall;
- pair outputs are always (id_a < id_b) to keep results canonical.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .urlops import stable_hash60

MERSENNE61 = (1 << 61) - 1
# MinHash works in the Mersenne-31 field so a*h+b stays inside int64
# (a,h < 2^31 => a*h < 2^62) — identical arithmetic in Spark and DuckDB.
MERSENNE31 = (1 << 31) - 1


def normalized_text(col: Column) -> Column:
    """lowercase + collapse whitespace — the exact-dup canonical form."""
    return F.regexp_replace(F.lower(F.trim(col)), r"\s+", " ")


def exact_dedup(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
                ) -> DataFrame:
    """Groups of exact duplicates: (fingerprint, n_dups, doc_ids, keeper).
    Keeper = min id (deterministic)."""
    fp = F.md5(normalized_text(F.col(text_col)))
    return (
        docs.select(F.col(id_col), fp.alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.count(F.lit(1)).alias("n_dups"),
            F.sort_array(F.collect_list(id_col)).alias("doc_ids"),
            F.min(id_col).alias("keeper"),
        )
        .where(F.col("n_dups") > 1)
    )


def shingle_table(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                  k: int = 3) -> DataFrame:
    """(id, shingle_hash) — distinct k-word shingles, hashed via stable md5.
    Built natively: split -> transform over a sequence -> explode."""
    toks = F.split(normalized_text(F.col(text_col)), " ")
    n = F.size(toks)
    idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
    shingles = F.transform(
        idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k))
    )
    return (
        docs.select(F.col(id_col).alias("id"), F.explode(shingles).alias("shingle"))
        .where(F.length("shingle") > 0)
        .withColumn("shingle_hash", stable_hash60(F.col("shingle")))
        .select("id", "shingle_hash")
        .distinct()
    )


def minhash_params(num_hashes: int = 32, seed: int = 1) -> list[tuple[int, int]]:
    """Deterministic (a_i, b_i) affine coefficients in the M31 field,
    shared verbatim with the SQL oracle."""
    return [
        ((seed * 1_000_003 + i * 7_919) % (MERSENNE31 - 1) + 1,
         (seed * 999_983 + i * 104_729) % MERSENNE31)
        for i in range(num_hashes)
    ]


def minhash_signatures(shingles: DataFrame, num_hashes: int = 32,
                       seed: int = 1, with_size: bool = False) -> DataFrame:
    """(id, sig array<long>[, sz]): sig[i] = min over shingles of
    (a_i*(h mod M31) + b_i) mod M31 — all native expressions, one groupBy.
    ``with_size`` rides the exact shingle count on the same aggregation
    (saves a whole extra pass over the shingle table downstream)."""
    params = minhash_params(num_hashes, seed)
    aggs = [
        F.min(
            (F.col("shingle_hash") % MERSENNE31 * F.lit(a) + F.lit(b)) % MERSENNE31
        ).alias(f"h{i}")
        for i, (a, b) in enumerate(params)
    ]
    if with_size:
        aggs.append(F.count(F.lit(1)).alias("sz"))
    sig = shingles.groupBy("id").agg(*aggs)
    cols = ["id", F.array(*[f"h{i}" for i in range(num_hashes)]).alias("sig")]
    if with_size:
        cols.append(F.col("sz"))
    return sig.select(*cols)


def banded_signatures(signatures: DataFrame, bands: int,
                      num_hashes: int) -> DataFrame:
    """(id, band_hash): split each signature into ``bands`` row-groups and
    hash each group — the LSH bucket keys. Shared by the self-join dedup
    (lsh_candidate_pairs) and the incremental batch-vs-corpus dedup, so both
    sides of an incremental join bucket identically."""
    rows_per_band = num_hashes // bands
    return signatures.select(
        "id",
        F.posexplode(
            F.array(*[
                F.concat_ws(",", *[
                    F.element_at("sig", b * rows_per_band + r + 1).cast("string")
                    for r in range(rows_per_band)
                ])
                for b in range(bands)
            ])
        ).alias("band", "band_key"),
    ).withColumn(
        "band_hash", stable_hash60(F.concat_ws(":", "band", "band_key"))
    ).select("id", "band_hash")


def save_band_index_bucketed(bands_df: DataFrame, table: str,
                             buckets: int = 64,
                             path: str | None = None) -> None:
    """Append (id, band_hash) rows to a band-index table **bucketed by
    band_hash** — the storage layout that makes the incremental-dedup
    probe exchange-free on the store side (on Iceberg this is
    ``bucket(N, band_hash)`` partitioning + storage-partitioned joins).

    Append-only and retry-tolerant BY CONSTRUCTION rather than by
    transactional commit: a replayed epoch may append duplicate band rows,
    and a crashed epoch may leave band rows whose ids never reached the
    (manifest-gated) signature store — both are harmless, because
    candidate pairs are ``distinct``-ed and then inner-joined back to the
    committed signature store, which drops orphans. That is why the band
    index can be a plain bucketed table while the signature store needs a
    manifest. ``path`` only applies on first creation (managed location
    otherwise)."""
    spark = bands_df.sparkSession
    w = (bands_df.select("id", "band_hash")
         .write.mode("append").format("parquet"))
    if path is not None and not spark.catalog.tableExists(table):
        w = w.option("path", path)
    w.bucketBy(buckets, "band_hash").sortBy("band_hash").saveAsTable(table)


def _local_shingle_hashes(text: str | None, k: int) -> set:
    """Driver twin of shingle_table for one document: same trim(0x20)/
    lower/ASCII-\\s collapse, same ' '.join(k-token windows) incl. the
    short-text single-shingle case, same md5-60-bit hash, set = distinct."""
    import hashlib
    import re

    if text is None:
        return set()
    norm = re.sub(r"\s+", " ", text.strip(" ").lower(), flags=re.ASCII)
    toks = norm.split(" ")
    n = len(toks)
    out = set()
    for i in range(max(n - k, 0) + 1):
        sh = " ".join(toks[i:i + k])
        if sh:
            out.add(int(hashlib.md5(sh.encode("utf-8")).hexdigest()[:15], 16))
    return out


def _local_minhash_sigs(shingles: dict, num_hashes: int, seed: int) -> dict:
    """{id: shingle-hash set} -> {id: signature list} — exact integer
    M31 affine minhash, bit-identical to minhash_signatures."""
    params = minhash_params(num_hashes, seed)
    return {
        i: [min((h % MERSENNE31 * a + b) % MERSENNE31 for h in hs)
            for a, b in params]
        for i, hs in shingles.items() if hs
    }


def _local_band_hashes(sig: list, bands: int, num_hashes: int) -> list:
    import hashlib

    r = num_hashes // bands
    out = []
    for b in range(bands):
        key = ",".join(str(sig[b * r + ri]) for ri in range(r))
        out.append(int(hashlib.md5(f"{b}:{key}".encode("utf-8"))
                       .hexdigest()[:15], 16))
    return out


def _local_minhash_pairs(texts: dict, k: int, num_hashes: int, seed: int,
                         bands: int, threshold: float) -> list:
    """Driver twin of the whole minhash_lsh_dedup pipeline over a
    collected {id: text} map: shingle -> signature -> band collision ->
    exact-Jaccard verify. Everything up to the final division is integer
    arithmetic shared verbatim with the dataflow, so results are
    bit-identical (asserted by test_minhash_driver_path_matches)."""
    shingles = {i: _local_shingle_hashes(t, k) for i, t in texts.items()}
    sigs = _local_minhash_sigs(shingles, num_hashes, seed)
    buckets: dict = {}
    for i, sig in sigs.items():
        for bh in _local_band_hashes(sig, bands, num_hashes):
            buckets.setdefault(bh, []).append(i)
    cands = set()
    for ids in buckets.values():
        ids = sorted(set(ids))
        for x in range(len(ids)):
            for y in range(x + 1, len(ids)):
                cands.add((ids[x], ids[y]))
    out = []
    for a, b in sorted(cands):
        inter = len(shingles[a] & shingles[b])
        if inter == 0:  # pairs with no overlap drop out of the inner join
            continue
        j = inter / (len(shingles[a]) + len(shingles[b]) - inter)
        if j >= threshold:
            out.append((a, b, j))
    return out


def _local_exact_jaccard_pairs(texts: dict, k: int,
                               threshold: float) -> list:
    """Driver twin shared by prefix_filter_dedup / ngram_jaccard_dedup:
    exact all-pairs Jaccard over the collected shingle sets. Valid as the
    prefix-filter twin because the lemma guarantees its output EQUALS
    brute force — the candidate pruning only changes work, not answers.
    Pairs with zero intersection are absent (the dataflows' inner
    verify join drops them)."""
    shingles = {i: _local_shingle_hashes(t, k) for i, t in texts.items()}
    ids = sorted(i for i, s in shingles.items() if s)
    out = []
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            a, b = ids[x], ids[y]
            inter = len(shingles[a] & shingles[b])
            if inter == 0:
                continue
            j = inter / (len(shingles[a]) + len(shingles[b]) - inter)
            if j >= threshold:
                out.append((a, b, j))
    return out


def _exact_jaccard_twin(docs: DataFrame, id_col: str, text_col: str,
                        k: int, threshold: float):
    """The exact-Jaccard pairs of a corpus that passes _small_docs_probe,
    computed by the driver twin, else None."""
    rows = _small_docs_probe(docs, id_col, text_col)
    if rows is None:
        return None
    from ..session import local_df

    idt = docs.select(F.col(id_col)).schema[0].dataType.simpleString()
    return local_df(
        docs.sparkSession,
        _local_exact_jaccard_pairs({r[0]: r[1] for r in rows}, k, threshold),
        f"id_a {idt}, id_b {idt}, jaccard double")


def _small_docs_probe(docs: DataFrame, id_col: str, text_col: str):
    """The collected (id, text) rows for the document driver twins when
    the corpus passes the pairwise small-input gate and its ids are
    unique, else None (duplicate-id inputs keep the distributed path,
    whose shingle-union semantics the dict twins cannot mirror)."""
    from ..session import PAIRWISE_MAX_ROWS, collect_if_small

    rows = collect_if_small(docs.select(F.col(id_col), F.col(text_col)),
                            PAIRWISE_MAX_ROWS)
    if rows is not None and len({r[0] for r in rows}) == len(rows):
        return rows
    return None


def lsh_candidate_pairs(signatures: DataFrame, bands: int = 8, *,
                        num_hashes: int) -> DataFrame:
    """Band the signature, hash each band, self-join on (band, band_hash).
    Returns distinct (id_a < id_b) candidate pairs.

    ``num_hashes`` is required: the old ``.first()`` fallback was a full
    action that recomputed the whole signature chain just to read the
    array length (removed per r4 advice — every caller knows the value)."""
    banded = banded_signatures(signatures, bands, num_hashes)
    a = banded.select(F.col("id").alias("id_a"), "band_hash")
    b = banded.select(F.col("id").alias("id_b"), "band_hash")
    return (
        a.join(b, "band_hash")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def lsh_plan_stats(signatures: DataFrame, band_configs: list[int], *,
                   num_hashes: int) -> DataFrame:
    """Exact pre-join cost prediction for candidate LSH band configs —
    the "will this band join blow up?" planner, answered WITHOUT running
    any join. For each ``bands`` value: bucket the signatures exactly as
    :func:`lsh_candidate_pairs` would, histogram the bucket sizes, and
    report sum(n*(n-1)/2) over buckets — which IS the number of candidate
    rows the band self-join would emit before ``distinct`` (each bucket
    of n ids contributes every (id_a < id_b) pair once per band). One
    row per config:

      (bands, rows_per_band, threshold_jaccard, n_buckets,
       n_colliding_buckets, max_bucket, pred_candidate_rows)

    ``threshold_jaccard`` is the standard S-curve midpoint
    (1/bands)^(bands/num_hashes). Why this matters at 100 TB: a band
    join's cost is dominated by its largest buckets (skew), and the
    histogram costs one groupBy per config over a one-row-per-doc
    signature table — orders of magnitude cheaper than discovering the
    blowup by running the join. Choose the config whose threshold sits
    at the target Jaccard AND whose predicted candidate count fits the
    verify budget; a huge ``max_bucket`` flags a degenerate band (e.g.
    empty-text signatures) to pre-filter. Reference parity: the
    reference tunes its dedup thresholds offline (crawl4ai has no LSH
    planner); this is the engine-level planning the same decision needs
    at corpus scale. Each config re-derives ``signatures`` lineage —
    pass a materialized signature table (the store) when planning over
    more than a trivial corpus."""
    # small-input driver twin: per config the dataflow pays an explode +
    # two aggregation phases; a signature table that fits the gate
    # computes the same integer histogram locally (band hashing shared
    # with _local_band_hashes — bit-identical)
    from ..session import PAIRWISE_MAX_ROWS, collect_if_small

    srows = collect_if_small(signatures.select("id", "sig"),
                             PAIRWISE_MAX_ROWS)
    if srows is not None:
        from ..session import local_df

        rows_out = []
        for b in band_configs:
            if num_hashes % b:
                raise ValueError(
                    f"bands ({b}) must divide num_hashes ({num_hashes})")
            r = num_hashes // b
            thr = (1.0 / b) ** (1.0 / r)
            hist: dict = {}
            for row in srows:
                for bh in _local_band_hashes(list(row[1]), b, num_hashes):
                    hist[bh] = hist.get(bh, 0) + 1
            ns = list(hist.values())
            rows_out.append((
                b, r, thr, len(ns),
                sum(1 for n in ns if n > 1) if ns else None,
                max(ns) if ns else None,
                sum(n * (n - 1) for n in ns) // 2 if ns else None,
            ))
        return local_df(
            signatures.sparkSession, rows_out,
            "bands int, rows_per_band int, threshold_jaccard double, "
            "n_buckets bigint, n_colliding_buckets bigint, "
            "max_bucket bigint, pred_candidate_rows bigint")
    outs = []
    for b in band_configs:
        if num_hashes % b:
            raise ValueError(
                f"bands ({b}) must divide num_hashes ({num_hashes})")
        r = num_hashes // b
        thr = (1.0 / b) ** (1.0 / r)
        hist = (
            banded_signatures(signatures, b, num_hashes)
            .groupBy("band_hash")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        outs.append(hist.agg(
            F.count(F.lit(1)).alias("n_buckets"),
            F.sum(F.when(F.col("n") > 1, 1).otherwise(0))
             .alias("n_colliding_buckets"),
            F.max("n").alias("max_bucket"),
            (F.sum(F.col("n") * (F.col("n") - 1)) / 2).cast("long")
             .alias("pred_candidate_rows"),
        ).select(
            F.lit(b).alias("bands"),
            F.lit(r).alias("rows_per_band"),
            F.lit(thr).alias("threshold_jaccard"),
            "n_buckets", "n_colliding_buckets", "max_bucket",
            "pred_candidate_rows",
        ))
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def jaccard_of_pairs(pairs: DataFrame, shingles: DataFrame,
                     sizes: DataFrame | None = None) -> DataFrame:
    """Exact Jaccard for candidate pairs via shingle-table joins:
    |A∩B| from a shingle self-join restricted to pairs; |A∪B|=|A|+|B|-∩.
    ``sizes`` (id, sz) can be supplied precomputed (e.g. ridden on the
    minhash aggregation) to avoid an extra shingle-table pass."""
    if sizes is None:
        sizes = shingles.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    sa = shingles.select(F.col("id").alias("id_a"), "shingle_hash")
    sb = shingles.select(F.col("id").alias("id_b"), "shingle_hash")
    inter = (
        pairs.join(sa, "id_a")
        .join(sb, ["id_b", "shingle_hash"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    out = (
        inter.join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("sz", "sz_a"), "id_a")
        .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("sz", "sz_b"), "id_b")
        .withColumn(
            "jaccard",
            (F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter"))).cast("double"),
        )
    )
    return out.select("id_a", "id_b", "inter", "sz_a", "sz_b", "jaccard")


def minhash_lsh_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    jaccard_threshold: float = 0.6,
    persist_shingles: bool = False,
) -> DataFrame:
    """Near-dup pairs (id_a, id_b, jaccard >= threshold), LSH-accelerated,
    verified with exact Jaccard (no false positives in the output).

    The shingle table feeds six plan branches (the band-join sides each
    re-derive signatures, plus sizes and both verification sides) and the
    differing aliases mean Spark does NOT reuse the exchange — the
    explode+distinct genuinely runs per branch. Measured A/B (sf0.1,
    local[32], interleaved runs): recompute 5.9-6.5 s vs persisted shingle
    table 13 s vs persisted signature table 9.7-11.6 s — the cache build +
    InMemoryRelation boundary (which also blocks AQE re-planning) costs
    more than the recompute saves, so the DEFAULT recomputes. Re-validated
    at 10x (50k docs, 11M shingles, idle box, interleaved): recompute
    60-72 s vs persisted 58-60 s — a wash; the crossover is near this
    scale, so ``persist_shingles=True`` is the right call for corpora
    beyond ~10^5 docs (and at 10^8+ the shingle table belongs in parquet,
    not the MEMORY cache — materialize it yourself and pass it in).
    ``persist_shingles`` only caches; corpora that pass the pairwise
    small-input gate run the driver twin either way."""
    # small-corpus driver twin: the six-branch shingle/signature/band/
    # verify dataflow costs ~10 exchanges regardless of size, so corpora
    # that fit the gate run the bit-identical integer pipeline locally
    rows = _small_docs_probe(docs, id_col, text_col)
    if rows is not None:
        from ..session import local_df

        idt = docs.select(F.col(id_col)).schema[0].dataType.simpleString()
        out = _local_minhash_pairs(
            {r[0]: r[1] for r in rows}, k, num_hashes, 1, bands,
            jaccard_threshold)
        return local_df(
            docs.sparkSession, out,
            f"id_a {idt}, id_b {idt}, jaccard double")
    sh = shingle_table(docs, id_col, text_col, k)
    if persist_shingles:
        sh = sh.persist()
    sig = minhash_signatures(sh, num_hashes)
    cand = lsh_candidate_pairs(sig, bands, num_hashes=num_hashes)
    return jaccard_of_pairs(cand, sh).where(
        F.col("jaccard") >= jaccard_threshold
    ).select("id_a", "id_b", "jaccard")


def host_mirror_pairs(
    docs: DataFrame,
    host_col: str = "host",
    text_col: str = "text",
    k: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    resemblance_threshold: float = 0.5,
    containment_threshold: float = 0.8,
    persist_shingles: bool = False,
) -> DataFrame:
    """Mirror-host detection (Bharat & Broder, "Mirror, Mirror on the Web",
    WWW 1999, via Broder's resemblance/containment, SEQUENCES 1997): a host's
    content profile is S(host) = the UNION of the k-shingle sets of all its
    pages; for a host pair, resemblance r = |A∩B|/|A∪B| and containment
    c(A→B) = |A∩B|/|A|. Output one row per detected pair (host_a < host_b):
    ``mirror`` when r >= resemblance_threshold, else ``partial`` when either
    direction's containment >= containment_threshold (one host embeds the
    other — a section mirror). The reference crawls mirrors blind
    (`crawl4ai/deep_crawling` dedups urls, never cross-host content); at
    CC scale mirror farms waste politeness budget, so this is the
    frontier-level companion to document dedup.

    Spark shape: keying :func:`shingle_table` by ``host_col`` makes the
    per-host shingle UNION a plain ``distinct`` — per-page sets are never
    materialized, and the union's minhash is the same single
    groupBy(host) partial-agg as document minhash (min is associative
    across a host's pages). LSH banding cuts the host×host space to
    colliding buckets; exact set arithmetic (one shingle self-join) runs on
    candidates only. Hosts number ~10^7 even under a 10^10-page corpus, so
    every post-shingle stage is orders smaller than the document dedup
    this reuses. Candidate recall is the standard LSH s-curve: with the
    default 8 bands × 4 rows, a true mirror (r=1) always collides; r=0.8
    collides w.p. ~0.98; pure-containment pairs with low resemblance
    (tiny host inside a huge one) need smaller ``bands`` rows or a
    dedicated containment sketch — documented, not silently covered."""
    sh = shingle_table(docs, host_col, text_col, k)
    if persist_shingles:
        sh = sh.persist()
    # per-host set sizes ride the minhash aggregation (with_size) — one
    # fewer full shingle pass than the document-level dedup path
    sig = minhash_signatures(sh, num_hashes, with_size=True)
    cand = lsh_candidate_pairs(sig, bands, num_hashes=num_hashes)
    j = jaccard_of_pairs(cand, sh, sizes=sig.select("id", "sz"))
    cont_a = (F.col("inter") / F.col("sz_a")).cast("double")
    cont_b = (F.col("inter") / F.col("sz_b")).cast("double")
    out = j.select(
        F.col("id_a").alias("host_a"),
        F.col("id_b").alias("host_b"),
        F.col("jaccard").alias("resemblance"),
        cont_a.alias("containment_a_in_b"),
        cont_b.alias("containment_b_in_a"),
    ).withColumn(
        "mirror_class",
        F.when(F.col("resemblance") >= resemblance_threshold, F.lit("mirror"))
        .when(
            F.greatest("containment_a_in_b", "containment_b_in_a")
            >= containment_threshold,
            F.lit("partial"),
        ),
    )
    return out.where(F.col("mirror_class").isNotNull())


def signature_agreement(sig_a: Column, sig_b: Column, num_hashes: int) -> Column:
    """Fraction of equal minhash positions — the standard unbiased estimator
    of Jaccard similarity from two signatures. Pure array expression
    (zip_with + aggregate), no Python crossing."""
    eq = F.zip_with(sig_a, sig_b, lambda a, b: (a == b).cast("int"))
    return (
        F.aggregate(eq, F.lit(0), lambda acc, x: acc + x) / F.lit(num_hashes)
    ).cast("double")


def incremental_minhash_dedup(
    new_docs: DataFrame,
    corpus_sigs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    seed: int = 1,
    est_threshold: float = 0.6,
    new_sigs: DataFrame | None = None,
    corpus_bands: DataFrame | None = None,
) -> DataFrame:
    """Dedup a NEW ingest batch against an existing corpus **signature
    store** — the shape a production pipeline actually runs when a fresh
    crawl snapshot lands: the already-deduped corpus is never re-shingled
    (its text is never even read); only its stored (id, sig array<long>)
    table participates, which at num_hashes=32 is ~256 bytes/doc — a
    storable side table even at 10^10 docs.

    ``corpus_sigs`` is built once per corpus via
    ``minhash_signatures(shingle_table(corpus))`` (same k/num_hashes/seed —
    the coefficients are deterministic so batches written months apart
    bucket identically).

    Candidates come from LSH banding of BOTH sides with the shared
    ``banded_signatures`` helper: new×corpus band joins plus a new×new
    self-join — never corpus×corpus, which is the entire point of
    incrementality (cost is O(|batch|) + join against the band index, not
    O(|corpus|^2)).

    Similarity is the signature agreement fraction (``signature_agreement``)
    rather than exact shingle Jaccard: exact verification would need corpus
    shingles, which the store deliberately does not keep. At num_hashes=32
    the estimator's std-dev is <= 0.09, tightening as sqrt(1/num_hashes).

    Returns (new_id, dup_of, est_jaccard, dup_source) with
    dup_source in {'corpus', 'batch'}: 'corpus' rows match an existing
    corpus doc; 'batch' rows are within-batch duplicates of a smaller-id
    batch doc (so keeping only batch ids absent from new_id admits exactly
    the novel documents plus one representative per within-batch group).

    ``new_sigs``: pass the batch's (id, sig) table when the caller already
    computed it (the ingest loop reuses it for the store append) — the
    caller then owns its lifecycle (persist/unpersist). When omitted it is
    derived here UNPERSISTED: the recompute across the plan's branches is
    bounded by batch size, and a hidden ``.persist()`` here would accrete
    cache across repeated calls in a long-lived session (r4 advice).
    Callers that want single-computation (as ``streaming.ingest`` does)
    persist their own ``new_sigs`` and unpersist it after the epoch.

    ``corpus_bands``: the corpus side's **materialized band index** —
    (id, band_hash), built once per committed epoch with
    ``banded_signatures`` and stored next to the signature store (see
    ``streaming.ingest.SignatureStore``). Pass it to make the corpus side
    of the band join a *plain scan/probe*. When omitted the index is
    derived here by exploding ``corpus_sigs`` — acceptable for one-shot
    batch jobs, but a per-batch re-explode of a 10^10-doc store (8×10^10
    rows through a shuffle per ingest micro-batch) dominates the O(Δ)
    batch work, which is exactly what the stored index eliminates.
    """
    if new_sigs is None:
        sh = shingle_table(new_docs, id_col, text_col, k)
        new_sigs = minhash_signatures(sh, num_hashes, seed)
    new_bands = banded_signatures(new_sigs, bands, num_hashes)
    # corpus_sigs is the caller's signature STORE — at production scale a
    # parquet/Iceberg table, so its branches below are plain scans; do not
    # persist someone else's 10^10-row table here.
    if corpus_bands is None:
        corpus_bands = banded_signatures(corpus_sigs, bands, num_hashes)

    vs_corpus = (
        new_bands.select(F.col("id").alias("new_id"), "band_hash")
        .join(corpus_bands.select(F.col("id").alias("dup_of"), "band_hash"),
              "band_hash")
        .select("new_id", "dup_of")
        .distinct()
        .join(new_sigs.select(F.col("id").alias("new_id"),
                              F.col("sig").alias("sig_new")), "new_id")
        .join(corpus_sigs.select(F.col("id").alias("dup_of"),
                                 F.col("sig").alias("sig_old")), "dup_of")
        .select(
            "new_id", "dup_of",
            signature_agreement(F.col("sig_new"), F.col("sig_old"),
                                num_hashes).alias("est_jaccard"),
            F.lit("corpus").alias("dup_source"),
        )
    )

    a = new_bands.select(F.col("id").alias("dup_of"), "band_hash")
    b = new_bands.select(F.col("id").alias("new_id"), "band_hash")
    within = (
        a.join(b, "band_hash")
        .where(F.col("dup_of") < F.col("new_id"))
        .select("new_id", "dup_of")
        .distinct()
        .join(new_sigs.select(F.col("id").alias("new_id"),
                              F.col("sig").alias("sig_new")), "new_id")
        .join(new_sigs.select(F.col("id").alias("dup_of"),
                              F.col("sig").alias("sig_old")), "dup_of")
        .select(
            "new_id", "dup_of",
            signature_agreement(F.col("sig_new"), F.col("sig_old"),
                                num_hashes).alias("est_jaccard"),
            F.lit("batch").alias("dup_source"),
        )
    )

    return vs_corpus.unionByName(within).where(
        F.col("est_jaccard") >= est_threshold
    )


def window_dup_stats(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 10,
    min_docs: int = 2,
) -> DataFrame:
    """Per-document duplicated-window fraction — the exact-substring dedup
    statistic of Lee et al. 2021 ("Deduplicating Training Data Makes
    Language Models Better"), Spark-shaped: instead of a suffix array,
    positional k-token rolling windows are hashed, a window is *duplicated*
    when it occurs in >= ``min_docs`` distinct documents, and each document
    reports what fraction of its windows are duplicated — the standard
    filter signal for boilerplate-heavy pages in RefinedWeb/FineWeb-style
    cleaning stacks.

    Returns (id, n_windows, dup_windows, dup_fraction). Shape at scale: one
    explode -> one global groupBy(window_hash) with a partial-agg distinct
    count -> one rejoin + per-doc agg. No window functions, no self-joins —
    linear in corpus token count, shuffle keyed on window_hash (uniform by
    construction: md5).

    Documents shorter than k tokens contribute a single whole-document
    window (consistent with shingle_table's slice semantics); documents
    with zero non-empty tokens (e.g. whitespace-only — Spark's trim strips
    only spaces, so a lone newline normalizes to " ") produce no row at
    all rather than a junk empty-window row.
    """
    toks = F.filter(
        F.split(normalized_text(F.col(text_col)), " "),
        lambda w: w != F.lit(""),
    )
    n = F.size(toks)
    idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
    windows = F.transform(
        idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k))
    )
    # positional windows: repeats inside one doc stay distinct rows
    win = (
        docs.select(F.col(id_col).alias("id"),
                    F.posexplode(windows).alias("pos", "window"))
        .where(F.length("window") > 0)
        .withColumn("window_hash", stable_hash60(F.col("window")))
        .select("id", "pos", "window_hash")
    )
    df = (
        win.groupBy("window_hash")
        .agg(F.count_distinct("id").alias("df"))
        .where(F.col("df") >= min_docs)
        .select("window_hash", F.lit(1).alias("is_dup"))
    )
    return (
        win.join(df, "window_hash", "left")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.sum(F.coalesce(F.col("is_dup"), F.lit(0))).alias("dup_windows"),
        )
        .withColumn(
            "dup_fraction",
            (F.col("dup_windows") / F.col("n_windows")).cast("double"),
        )
    )


def exact_substring_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 10,
) -> DataFrame:
    """Exact-substring duplicate REMOVAL (Lee et al. 2021, "Deduplicating
    Training Data Makes Language Models Better", §4 ExactSubstr) — the
    companion to :func:`window_dup_stats`, which only reports the signal.
    The paper removes every duplicated token run (length >= threshold)
    except one occurrence, using a corpus suffix array; Spark-shaped, the
    same semantics fall out of positional k-token windows: a window that
    occurs more than once across the WHOLE corpus (within-document repeats
    count, exactly like a suffix array) is removed from every occurrence
    except the first (lexicographically smallest (id, position)), at token
    granularity. Overlapping duplicated windows merge into maximal removed
    spans automatically because removal is the union of their [pos, pos+k)
    token positions. Documents that lose nothing keep their ORIGINAL text
    byte-for-byte (casing/line structure survive — the overwhelming
    majority of a real corpus); only docs with removed spans come back
    token-normalized (single space, lowercased — ``normalized_text``
    form, shared with every dedup op).

    Tokenization matches ``window_dup_stats``: whitespace tokens of the
    normalized text; documents shorter than k tokens contribute one
    whole-document window; zero-token documents pass through unchanged.
    Returns ``docs`` with ``text_col`` rebuilt plus ``n_tokens``,
    ``n_tokens_removed``.

    Scale shape (mirrors :func:`span_dedup`, the sentence-level C4 pass):
    windows are built at the ARRAY level (one projection, no per-doc
    window function); the duplicate count + keeper pick is ONE
    groupBy(window_hash) with partial map-side count + min(struct(id,pos))
    — a boilerplate run duplicated across 10^8 pages is a single agg key —
    and only DUPLICATED keys join back; the rebuild is one groupBy(id)
    with array_sort. Linear in corpus token count, shuffles keyed on the
    uniform window_hash / id — no self-joins, survives 100 TB.
    """
    did = F.col(id_col)
    toks = F.filter(
        F.split(normalized_text(F.col(text_col)), " "),
        lambda w: w != F.lit(""),
    )
    base = docs.select(did.alias("id"), toks.alias("toks"))
    n = F.size("toks")
    tok_rows = base.select(
        "id", F.posexplode("toks").alias("pos0", "tok")
    ).select("id", (F.col("pos0") + 1).alias("pos"), "tok")
    # window start positions, 1-based; short docs get one whole-doc window
    # (slice past the end clamps, in Spark and in the DuckDB oracle alike)
    idx = (
        F.when(n >= k, F.sequence(F.lit(1), n - k + 1))
        .when(n >= 1, F.array(F.lit(1)))
        .otherwise(F.array().cast("array<int>"))
    )
    wins = base.select(
        "id",
        F.explode(
            F.transform(
                idx,
                lambda i: F.struct(
                    i.alias("pos"),
                    stable_hash60(
                        F.concat_ws(" ", F.slice(F.col("toks"), i, k))
                    ).alias("window_hash"),
                ),
            )
        ).alias("w"),
    ).select("id", F.col("w.pos").alias("pos"), "w.window_hash")
    dup = (
        wins.groupBy("window_hash")
        .agg(
            F.count(F.lit(1)).alias("n_occ"),
            F.min(F.struct(F.col("id"), F.col("pos"))).alias("keeper"),
        )
        .where(F.col("n_occ") > 1)
        .select("window_hash", "keeper")
    )
    drop = (
        wins.join(dup, "window_hash")
        .where(F.struct(F.col("id"), F.col("pos")) != F.col("keeper"))
        .select(
            "id",
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + k - 1)
            ).alias("pos"),
        )
        .distinct()
    )
    kept = tok_rows.join(drop, ["id", "pos"], "left_anti")
    rebuilt = kept.groupBy("id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda s: s["tok"],
            ),
            " ",
        ).alias("_clean"),
        F.count(F.lit(1)).alias("_n_kept"),
    )
    totals = base.select("id", n.alias("_n_toks"))
    return (
        docs.join(rebuilt, docs[id_col] == rebuilt["id"], "left").drop("id")
        .join(totals, docs[id_col] == totals["id"], "left").drop("id")
        .withColumn("n_tokens", F.coalesce("_n_toks", F.lit(0)))
        .withColumn(
            "n_tokens_removed",
            F.coalesce("_n_toks", F.lit(0)) - F.coalesce("_n_kept", F.lit(0)),
        )
        # untouched docs (the overwhelming majority of a real corpus) keep
        # their ORIGINAL text — casing and line structure survive; only
        # docs that actually lost a span come back token-normalized
        .withColumn(
            text_col,
            F.when(F.col("n_tokens_removed") == 0, F.col(text_col))
            .otherwise(F.coalesce("_clean", F.lit(""))),
        )
        .drop("_clean", "_n_kept", "_n_toks")
    )


def winnow_fingerprints(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    window: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD 2003 — the MOSS algorithm, public paper): hash every char
    k-gram of the squashed text, slide a window of ``window`` hashes, and
    keep the RIGHTMOST MINIMUM of each window. The selected (hash, pos)
    set is a guaranteed partial-copy detector: any shared substring of
    length >= window + k - 1 yields at least one shared fingerprint
    (local algorithm, ~2/(window+1) density) — the contiguous-plagiarism
    complement to shingle Jaccard (which sees only global overlap) and to
    exact_substring_dedup (which needs exact token windows of fixed
    size).

    Shape: each gram is hashed EXACTLY ONCE (one posexplode — leaving the
    grams as a lazy array expression would re-evaluate every md5 per
    window inside the sliding transform, an O(n*w) recompute measured at
    ~30x), then one groupBy(id) rebuilds the hash sequence as a DATA
    array (state = one document's grams, page-sized) and the window
    argmin runs as array combinators over that materialized value —
    O(n*w) cheap struct compares, no UDF, one exchange keyed by doc.
    Texts shorter than window grams winnow a single window of whatever
    exists; texts shorter than k chars produce no fingerprints. Returns
    (id, fp_hash, pos) distinct rows (pos = 0-based gram offset in the
    squashed text)."""
    if k < 2 or window < 1:
        raise ValueError(f"need k >= 2 and window >= 1, got {k}, {window}")
    # Winnowing is doc-local (squash -> gram hashes -> sliding rightmost
    # minimum), so the whole selection runs per document inside ONE Arrow
    # stage — the corpus dimension distributes and nothing shuffles. The
    # previous dataflow paid a posexplode + groupBy(id) collect exchange
    # plus an O(n*w) HOF fold per row; integer md5/position arithmetic is
    # identical, so the selected (id, fp_hash, pos) set is bit-identical.
    from pyspark.sql.types import (
        IntegerType, LongType, StructField, StructType,
    )

    out_schema = StructType([
        StructField("id", docs.schema[id_col].dataType),
        StructField("fp_hash", LongType()),
        StructField("pos", IntegerType()),
    ])
    src = docs.select(F.col(id_col).alias("id"),
                      F.col(text_col).alias("text"))

    def fn(batches):
        import hashlib
        import re

        import pandas as pd

        strip_pat = re.compile("[^a-z0-9]")

        def h60(s: str) -> int:
            return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)

        for pdf in batches:
            out = {"id": [], "fp_hash": [], "pos": []}
            for did, text in zip(pdf["id"], pdf["text"]):
                if text is None:
                    continue
                squashed = strip_pat.sub("", text.lower())
                n = len(squashed) - k + 1
                if n < 1:
                    continue
                grams = [h60(squashed[i:i + k]) for i in range(n)]
                fps = set()
                for i in range(max(n - window + 1, 1)):
                    best_h = best_p = None
                    for p in range(i, min(i + window, n)):
                        if best_h is None or grams[p] <= best_h:
                            best_h, best_p = grams[p], p
                    fps.add((best_h, best_p))
                for h, p in sorted(fps):
                    out["id"].append(did)
                    out["fp_hash"].append(h)
                    out["pos"].append(p)
            yield pd.DataFrame(out, columns=["id", "fp_hash", "pos"])

    return src.mapInPandas(fn, out_schema)


def winnow_matches(fingerprints: DataFrame,
                   min_shared: int = 2) -> DataFrame:
    """Document pairs sharing >= min_shared winnowing fingerprints —
    the copy-detection join over the tiny fingerprint table (~2/(w+1)
    of the gram count per doc), never the texts. Returns (id_a, id_b,
    n_shared)."""
    a = fingerprints.select(F.col("id").alias("id_a"), "fp_hash")
    b = fingerprints.select(F.col("id").alias("id_b"), "fp_hash")
    return (
        a.join(b, "fp_hash")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.countDistinct("fp_hash").alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )


def ngram_jaccard_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact all-pairs n-gram Jaccard >= threshold (no LSH; for modest n or
    as the ground-truth check of minhash_lsh_dedup). Small corpora run
    the shared driver twin (bit-identical; see
    _local_exact_jaccard_pairs)."""
    twin = _exact_jaccard_twin(docs, id_col, text_col, k, threshold)
    if twin is not None:
        return twin
    sh = shingle_table(docs, id_col, text_col, k)
    sa = sh.select(F.col("id").alias("id_a"), "shingle_hash")
    sb = sh.select(F.col("id").alias("id_b"), "shingle_hash")
    pairs = (
        sa.join(sb, "shingle_hash")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    return (
        pairs.join(sizes.select(F.col("id").alias("id_a"), F.col("sz").alias("sz_a")), "id_a")
        .join(sizes.select(F.col("id").alias("id_b"), F.col("sz").alias("sz_b")), "id_b")
        .withColumn(
            "jaccard",
            (F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter"))).cast("double"),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def prefix_filter_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """EXACT Jaccard >= threshold pairs via prefix filtering (PPJoin
    family — Chaudhuri et al. 2006 SSJoin / Xiao et al. 2008, public
    papers): same answer as :func:`ngram_jaccard_dedup`, provably, but
    candidates come only from each document's PREFIX under a global
    rarest-first shingle order instead of every shingle.

    Why this is the scale path for exact joins: the all-shingles join
    blows up on its most frequent key (one boilerplate shingle shared by
    10^6 docs creates 10^12 candidate rows); here a doc with n shingles
    exposes only its n - ceil(t*n) + 1 RAREST ones, so frequent shingles
    sit at the back of every prefix-ordering and almost never join. The
    prefix-filtering lemma guarantees zero false negatives: two sets with
    J >= t overlap in more than (1-t)*max(|x|,|y|) elements, so their
    prefixes under ANY shared total order must intersect. A length filter
    (t*|x| <= |y| <= |x|/t) prunes candidates further, then the exact
    Jaccard verify runs only on survivors (:func:`jaccard_of_pairs` —
    same verify stage LSH uses, here completing an exact pipeline).

    Order = (global shingle df ASC, shingle_hash ASC) — rarest first, the
    order that minimizes candidates; df comes from ONE vocab-sized
    groupBy, per-doc positions from a window whose partition is a single
    document's shingle set (page-sized state, distributes at any corpus
    size).

    The shingle table is materialized (localCheckpoint) before the five
    consumers below (df table, sizes, prefix window, both verify
    rejoins): PPJoin's index IS a materialized structure, and without it
    Spark re-scans and re-shingles the corpus once per consumer.
    Measured (interleaved A/B, 1000 docs sf0.1, local[32], warm): a wash
    at this scale (2.3-2.7 s vs 2.5 s) — the win is where the 5x
    re-shingle CPU dominates. Unlike ``.persist()`` (which LOST in
    minhash_lsh_dedup's A/B — the InMemoryRelation boundary costs more
    than the recompute saves and blocks AQE), localCheckpoint stores raw
    RDD blocks with no plan boundary and never measured slower.
    Footprint is one (id, shingle_hash) row per shingle, the same order
    the join itself touches; at 10^8+ docs materialize the shingle table
    to parquet yourself and pass ``docs`` pre-shingled instead."""
    if not 0 < threshold <= 1:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    twin = _exact_jaccard_twin(docs, id_col, text_col, k, threshold)
    if twin is not None:
        return twin
    sh = shingle_table(docs, id_col, text_col, k).localCheckpoint()
    df_tbl = sh.groupBy("shingle_hash").agg(F.count(F.lit(1)).alias("_df"))
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    w = Window.partitionBy("id").orderBy("_df", "shingle_hash")
    prefix = (
        sh.join(df_tbl, "shingle_hash")
        .withColumn("_pos", F.row_number().over(w))
        .join(sizes, "id")
        .where(F.col("_pos")
               <= F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz")) + 1)
        .select("id", "shingle_hash", "sz")
    )
    a = prefix.select(F.col("id").alias("id_a"), "shingle_hash",
                      F.col("sz").alias("sz_a"))
    b = prefix.select(F.col("id").alias("id_b"), "shingle_hash",
                      F.col("sz").alias("sz_b"))
    cand = (
        a.join(b, "shingle_hash")
        .where((F.col("id_a") < F.col("id_b"))
               & (F.col("sz_b") * F.lit(threshold) <= F.col("sz_a"))
               & (F.col("sz_a") * F.lit(threshold) <= F.col("sz_b")))
        .select("id_a", "id_b")
        .distinct()
    )
    return jaccard_of_pairs(cand, sh, sizes).where(
        F.col("jaccard") >= threshold).select("id_a", "id_b", "jaccard")


def simhash(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
            bits: int = 64) -> DataFrame:
    """(id, simhash long): sign-sum over token hashes, bit by bit — native
    exprs: explode tokens -> per-bit +-1 -> sum -> reassemble.
    Uses 60-bit stable hashes; top 4 bits of the 64 are always 0."""
    toks = docs.select(
        F.col(id_col).alias("id"),
        F.explode(F.split(normalized_text(F.col(text_col)), " ")).alias("tok"),
    ).where(F.length("tok") > 0)
    h = toks.withColumn("th", stable_hash60(F.col("tok")))
    bit_aggs = [
        F.sum(
            F.when(F.shiftright(F.col("th"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{i}")
        for i in range(min(bits, 60))
    ]
    sums = h.groupBy("id").agg(*bit_aggs)
    sim = F.lit(0).cast("long")
    for i in range(min(bits, 60)):
        sim = sim + F.when(F.col(f"b{i}") > 0, F.lit(1 << i).cast("long")).otherwise(0)
    return sums.select("id", sim.alias("simhash"))


def hamming_neardup(
    hashed: DataFrame,
    id_col: str = "id",
    hash_col: str = "simhash",
    max_hamming: int = 3,
    n_bands: int = 4,
    bits: int = 60,
) -> DataFrame:
    """Near-dup pairs with Hamming(hash) <= max_hamming over ANY bit-hash
    column (simhash of text, aHash of images, ...). Banding: split the
    ``bits`` into n_bands blocks; a pair within distance d < n_bands must
    agree on >= 1 block (pigeonhole) -> join per block, verify exactly via
    bit_count(xor). With max_hamming >= n_bands the block join is a recall
    heuristic (pairs spreading their differing bits over every block are
    missed) — the standard LSH trade, oracle-reproducible either way."""
    if bits % n_bands != 0:
        # a remainder would leave the top bits outside every block,
        # silently voiding the pigeonhole guarantee
        raise ValueError(f"bits ({bits}) must divide evenly into "
                         f"n_bands ({n_bands})")
    sh = hashed.select(
        F.col(id_col).alias("id"), F.col(hash_col).alias("_h")
    )
    width = bits // n_bands
    banded = sh.select(
        "id", "_h",
        F.posexplode(
            F.array(*[
                F.shiftright(F.col("_h"), b * width)
                .bitwiseAND(F.lit((1 << width) - 1))
                for b in range(n_bands)
            ])
        ).alias("band", "block"),
    )
    a = banded.select(F.col("id").alias("id_a"), F.col("_h").alias("sh_a"),
                      "band", "block")
    b = banded.select(F.col("id").alias("id_b"), F.col("_h").alias("sh_b"),
                      "band", "block")
    cand = (
        a.join(b, ["band", "block"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sh_a", "sh_b")
        .distinct()
    )
    return (
        cand.withColumn(
            "hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
        )
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def simhash_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    n_bands: int = 4,
) -> DataFrame:
    """Near-dup pairs with Hamming(simhash) <= max_hamming (see
    :func:`hamming_neardup` for the banding shape)."""
    return hamming_neardup(
        simhash(docs, id_col, text_col),
        id_col="id", hash_col="simhash",
        max_hamming=max_hamming, n_bands=n_bands, bits=60,
    )


def embedding_cosine_dedup(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    bucket_col: Column | None = None,
    all_pairs: bool = False,
    multiprobe_planes: int | None = None,
) -> DataFrame:
    """Pairs with cosine >= threshold. Brute-force WITHIN buckets (pass
    bucket_col, e.g. an LSH sign-bucket from similarity.hyperplane_bucket) —
    the scale path: the join key bounds candidate pairs to same-bucket rows.
    ``multiprobe_planes`` (= the bucket's plane count) additionally probes
    every Hamming-1 neighbor bucket, recovering pairs that straddle one
    hyperplane — the recall knob measured in scripts/ann_recall.py.
    The exhaustive cross join is ground-truth-only and must be requested
    explicitly with ``all_pairs=True`` (at 100 TB a silent cartesian default
    would be a footgun).
    Cosine = dot/(|a||b|) via native zip_with + aggregate — the same element
    order and formula as the DuckDB oracle (list_dot_product form), so float
    results agree bit-for-bit."""
    from .similarity import cosine as _cos

    if bucket_col is None and not all_pairs:
        raise ValueError(
            "embedding_cosine_dedup: pass bucket_col (scale path, e.g. "
            "similarity.hyperplane_bucket) or opt into the O(n^2) cross "
            "join explicitly with all_pairs=True"
        )
    base = emb.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
        (bucket_col if bucket_col is not None else F.lit(0)).alias("bkt"),
    )
    a = base.select(F.col("id").alias("id_a"), F.col("v").alias("va"), "bkt")
    if multiprobe_planes:
        # Hamming-1 multiprobe: a truly-near pair can straddle one
        # hyperplane (one sign bit flips under a tiny perturbation), which
        # exact-bucket equality misses — measured pair recall 0.83-0.89 at
        # 6 planes on planted near-identical copies (scripts/ann_recall.py).
        # Probing each 1-bit-flipped bucket on ONE join side recovers every
        # single-plane straddle (only >=2-plane straddles remain missable);
        # candidate volume grows by <= (n_planes+1)x, still bucket-bounded.
        probes = F.array(
            F.col("bkt"),
            *[F.col("bkt").bitwiseXOR(F.lit(1 << i))
              for i in range(multiprobe_planes)],
        )
        a = a.withColumn("bkt", F.explode(probes))
    b = base.select(F.col("id").alias("id_b"), F.col("v").alias("vb"), "bkt")
    out = (
        a.join(b, "bkt")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "va", "vb")
    )
    if multiprobe_planes:
        out = out.dropDuplicates(["id_a", "id_b"])
    return (
        out.withColumn("cosine", _cos(F.col("va"), F.col("vb")))
        .where(F.col("cosine") >= threshold)
        .select("id_a", "id_b", F.col("cosine").cast("double").alias("cosine"))
    )


def cluster_pairs(
    pairs: DataFrame,
    max_iters: int = 25,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Near-dup pairs -> connected components: (id, cluster_id) where
    cluster_id = min id reachable through the pair graph (the keeper).

    Min-label propagation as iterative DataFrame jobs (Pregel supersteps,
    same pattern as the frontier wave loop): each round every node takes the
    min of its own label and its neighbors' labels; converged when no label
    changed. Rounds needed = graph diameter — dedup graphs are star-/clique-
    shaped (diameter 1-3), so this is 2-4 shuffles on the PAIRS table, never
    an all-pairs pass. Labels materialize to parquet each round (lineage
    truncation), so the plan never grows with iteration count.

    A pipeline drops duplicates by keeping only rows with id == cluster_id
    (see dedup_keepers); the reference's per-page first-wins dedup
    (content_scraping_strategy seen-href logic) is the degenerate
    single-page case of the same keeper rule.

    Small-graph fast path: when the edge table passes the linear
    small-input gate (``session.collect_if_small``, 150k edges = a few
    MB), components come from a driver-side union-find over the collected
    edges instead of iterative jobs. This is the bounded-scalar kind of
    driver work, not a distributed-path regression: duplicate-pair graphs
    at sf<=0.1 fit trivially, while a 100 TB near-dup graph exceeds the
    gate and takes the propagation path unchanged. Same output either way
    — the propagation's min-label fixpoint IS the union-find component
    minimum.
    """
    import os
    import tempfile

    from ..session import LINEAR_MAX_ROWS, collect_if_small

    spark = pairs.sparkSession
    edges = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .unionByName(
            pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
        )
        .distinct()
    )
    sample = collect_if_small(edges, LINEAR_MAX_ROWS)
    if sample is not None:
        parent: dict = {}

        def find(x):
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:  # path compression
                parent[x], x = r, parent[x]
            return r

        for src, dst in sample:
            parent.setdefault(src, src)
            parent.setdefault(dst, dst)
            ra, rb = find(src), find(dst)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        from pyspark.sql.types import StructField, StructType

        from ..session import local_df

        rows = [(x, find(x)) for x in parent]
        out_schema = StructType([
            StructField("id", edges.schema["src"].dataType),
            StructField("cluster_id", edges.schema["src"].dataType),
        ])
        # Arrow local-relation path: plain createDataFrame(list) spins a
        # parallelize + Python-worker stage for a handful of rows
        return local_df(spark, rows, out_schema)

    # big path: materialize edges once — every round joins against this scan
    ckpt = checkpoint_dir or tempfile.mkdtemp(prefix="cc_labels_")
    edges_path = os.path.join(ckpt, "edges")
    edges.write.mode("overwrite").parquet(edges_path)
    edges = spark.read.parquet(edges_path)

    labels = edges.select(F.col("src").alias("id")).distinct().withColumn(
        "label", F.col("id")
    )
    for it in range(max_iters):
        neigh_min = (
            edges.join(labels, edges.dst == labels.id)
            .groupBy("src")
            .agg(F.min("label").alias("nmin"))
        )
        nxt = (
            labels.join(neigh_min, labels.id == neigh_min.src, "left")
            .select(
                "id",
                F.least(F.col("label"), F.coalesce("nmin", "label")).alias("label"),
                (F.col("label") != F.least(F.col("label"), F.coalesce("nmin", "label")))
                .cast("int").alias("changed"),
            )
        )
        out = os.path.join(ckpt, f"labels_{it % 2}")
        nxt.write.mode("overwrite").parquet(out)
        nxt = spark.read.parquet(out)
        n_changed = nxt.agg(F.sum("changed")).collect()[0][0] or 0
        labels = nxt.select("id", "label")
        if n_changed == 0:
            break
    else:
        # labels did not stabilize within max_iters (graph diameter >
        # max_iters — pathological chain shapes): a partial labeling would
        # silently yield multiple keepers per cluster downstream
        # (dedup_keepers), so surface it loudly instead
        import warnings

        warnings.warn(
            f"cluster_pairs: label propagation NOT converged after "
            f"{max_iters} rounds ({n_changed} labels still changing) — "
            f"components wider than {max_iters} hops are split; raise "
            f"max_iters for chain-shaped duplicate graphs",
            RuntimeWarning,
            stacklevel=2,
        )
    return labels.select("id", F.col("label").alias("cluster_id"))


def cluster_pairs_star(
    pairs: DataFrame,
    max_iters: int = 50,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Near-dup pairs -> connected components via alternating
    large-star / small-star rounds (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC 2014): the skew-proof
    alternative to :func:`cluster_pairs`'s min-label propagation.

    Why a second CC operator: label propagation needs GRAPH-DIAMETER
    rounds (a 10^6-hop chain of near-dups = 10^6 shuffles) and every
    round re-joins the full hub fan-out (a boilerplate page paired with
    10^7 others keeps its whole neighborhood live each round). The star
    algorithm converges in O(log^2 n) rounds REGARDLESS of diameter, and
    each round structurally shrinks hub neighborhoods (large-star hangs
    every bigger neighbor directly under the local minimum), so per-round
    work decays geometrically. Same output contract as cluster_pairs:
    (id, cluster_id = component-minimum id), roots included.

    Round shape: large-star = one groupBy(min) + one equi-join on the
    bidirectional edge view; small-star = the same on the (hi -> lo)
    orientation; the edge set materializes to parquet each round
    (lineage truncation, exactly the cluster_pairs convention) and
    convergence = edge-set fixpoint (count equal + one-sided exceptAll
    empty on the materialized tables). All edges stay canonically
    oriented hi > lo — every emitted edge points at a strictly smaller
    node, so the fixpoint is a star forest rooted at component minima
    (Theorem 1 of the paper)."""
    import os
    import tempfile

    spark = pairs.sparkSession
    ckpt = checkpoint_dir or tempfile.mkdtemp(prefix="cc_star_")

    a, b = F.col("id_a"), F.col("id_b")
    edges = (
        pairs.where(a != b)
        .select(F.greatest(a, b).alias("hi"), F.least(a, b).alias("lo"))
        .distinct()
    )
    path = os.path.join(ckpt, "edges_init")
    edges.write.mode("overwrite").parquet(path)
    edges = spark.read.parquet(path)
    n_edges = edges.count()

    converged = False
    for it in range(max_iters):
        # large-star: every neighbor v > u hangs under min(N(u) + {u})
        bidir = edges.select(F.col("hi").alias("u"), F.col("lo").alias("v")) \
            .unionByName(
                edges.select(F.col("lo").alias("u"), F.col("hi").alias("v")))
        mins = bidir.groupBy("u").agg(F.min("v").alias("nmin"))
        large = (
            bidir.join(mins, "u")
            .where(F.col("v") > F.col("u"))
            .select(
                F.col("v").alias("hi"),
                F.least("nmin", "u").alias("lo"),
            )
            .distinct()
        )
        # small-star: every smaller neighbor (and u itself) hangs under
        # the minimum of u's smaller neighborhood
        smins = large.groupBy("hi").agg(F.min("lo").alias("m"))
        joined = large.join(smins, "hi")
        small = (
            joined.select(F.col("hi").alias("n"), F.col("m"))
            .unionByName(
                joined.where(F.col("lo") != F.col("m"))
                .select(F.col("lo").alias("n"), F.col("m")))
            .select(F.col("n").alias("hi"), F.col("m").alias("lo"))
            .where(F.col("hi") != F.col("lo"))
            .distinct()
        )
        out = os.path.join(ckpt, f"edges_{it % 2}")
        # size-gated coalesce: a near-converged round is a few thousand
        # rows — fanning it across the full task width just pays task
        # overhead (known free from last round's footer count); big
        # graphs keep the parallel write
        to_write = small if n_edges > 100_000 else small.coalesce(1)
        to_write.write.mode("overwrite").parquet(out)
        nxt = spark.read.parquet(out)
        n_next = nxt.count()
        if n_next == n_edges and nxt.exceptAll(edges).isEmpty():
            edges = nxt
            converged = True
            break
        edges, n_edges = nxt, n_next
    if not converged:
        import warnings

        warnings.warn(
            f"cluster_pairs_star: edge set not a fixpoint after "
            f"{max_iters} alternating rounds — components may be split; "
            f"raise max_iters",
            RuntimeWarning,
            stacklevel=2,
        )
    roots = edges.select(F.col("lo").alias("id")).distinct() \
        .join(edges.select(F.col("hi").alias("id")).distinct(), "id",
              "left_anti")
    return (
        edges.select(F.col("hi").alias("id"), F.col("lo").alias("cluster_id"))
        .distinct()
        .unionByName(roots.select("id", F.col("id").alias("cluster_id")))
    )


def dedup_keepers(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    checkpoint_dir: str | None = None,
    quality_col: str | None = None,
    cc: str = "propagation",
) -> DataFrame:
    """docs + (cluster_id, is_keeper): rows not in any pair are their own
    keeper. Default keeper = min id (reproduces the reference's first-wins
    rule); with ``quality_col`` (numeric) the keeper is the HIGHEST-quality
    member (ties on min id) — the production curation policy: when five
    mirrors of a page survive near-dup pairing, keep the cleanest copy,
    not the numerically first one. ``cluster_id`` stays the min-id label
    either way (stable cluster identity independent of keeper policy).
    ``cc`` picks the component engine: "propagation" (min-label, diameter
    rounds) or "star" (large/small-star, O(log^2 n) rounds — use for
    hub-/chain-shaped duplicate graphs). Filter on ``is_keeper`` to
    actually drop duplicates.

    Scale shape of the quality path: one extra groupBy(cluster_id) over
    the LABELED rows only (pair-touched docs, not the corpus) and one
    broadcast-or-shuffle join back; the argmax is a single min(struct)
    partial agg, no window."""
    if cc not in ("propagation", "star"):
        raise ValueError("cc must be 'propagation' or 'star'")
    cc_fn = cluster_pairs if cc == "propagation" else cluster_pairs_star
    clusters = cc_fn(pairs, checkpoint_dir=checkpoint_dir)
    out = (
        docs.join(
            clusters.withColumnRenamed("id", id_col), id_col, "left"
        )
        .withColumn("cluster_id", F.coalesce("cluster_id", F.col(id_col)))
    )
    if quality_col is None:
        return out.withColumn(
            "is_keeper", F.col(id_col) == F.col("cluster_id"))
    best = (
        out.groupBy("cluster_id")
        .agg(F.min(F.struct(
            (-F.coalesce(F.col(quality_col).cast("double"),
                         F.lit(float("-inf")))).alias("nq"),
            F.col(id_col).alias("kid"))).alias("b"))
        .select("cluster_id", F.col("b.kid").alias("_keeper_id"))
    )
    return (
        out.join(best, "cluster_id")
        .withColumn("is_keeper", F.col(id_col) == F.col("_keeper_id"))
        .drop("_keeper_id")
    )


def span_dedup(docs: DataFrame, id_col: str = "doc_id",
               text_col: str = "text", span: int = 3) -> DataFrame:
    """C4-style duplicated-span removal (Raffel et al. 2019 §2.2, public
    paper): any exact run of ``span`` consecutive sentences that occurs
    more than once across the WHOLE corpus is removed from every document
    except its first occurrence (first = lexicographically smallest
    (id, position)). The C4 paper used three-sentence spans.

    Sentence segmentation matches ``chunking.sentence_chunks`` (sentinel
    split after [.!?]+whitespace, trimmed, empties dropped; an embedded
    \\x01 control char in the input also acts as a boundary — the sentinel
    collision shared with sentence_chunks and pinned by both oracles); the
    surviving sentences are re-joined with a single space, so output text
    is in sentence-normalized form. A keeper occurrence can still lose sentences
    to a DIFFERENT duplicated span overlapping it — removal is the union of
    non-keeper span positions (deterministic).

    Returns docs with ``<text_col>`` rebuilt plus n_sentences,
    n_sentences_removed.

    Scale shape: span keys are built at the ARRAY level (one projection —
    no per-doc window, no shuffle before the global count); the duplicate
    count + keeper pick is ONE groupBy(span_key) with a partial map-side
    min(struct(id,pos)) — mega-duplicated boilerplate spans are single agg
    keys, and only DUPLICATED keys flow into the join back; the rebuild is
    one groupBy(id) with array_sort (no second window).
    """
    did = F.col(id_col)
    sent_sep, key_sep = "\x01", "\x02"
    marked = F.regexp_replace(F.col(text_col), r"([.!?])\s+", "$1" + sent_sep)
    arr = F.filter(
        F.transform(F.split(marked, sent_sep), lambda s: F.trim(s)),
        lambda s: F.length(s) > 0,
    )
    base = docs.select(did.alias("id"), arr.alias("arr"))
    sents = base.select(
        "id", F.posexplode("arr").alias("pos0", "sentence")
    ).select("id", (F.col("pos0") + 1).alias("pos"), "sentence")
    # span start positions are 1-based; sequence() descends when start>stop,
    # so guard short docs explicitly
    n = F.size("arr")
    idx = F.when(n >= span, F.sequence(F.lit(1), n - span + 1)).otherwise(
        F.array().cast("array<int>")
    )
    spans = base.select(
        "id",
        F.explode(
            F.transform(
                idx,
                lambda i: F.struct(
                    i.alias("pos"),
                    F.md5(F.concat_ws(
                        key_sep, F.slice(F.col("arr"), i, span)
                    )).alias("span_key"),
                ),
            )
        ).alias("sp"),
    ).select("id", F.col("sp.pos").alias("pos"), "sp.span_key")
    dup = (
        spans.groupBy("span_key")
        .agg(
            F.count(F.lit(1)).alias("n_occ"),
            F.min(F.struct(F.col("id"), F.col("pos"))).alias("keeper"),
        )
        .where(F.col("n_occ") > 1)
        .select("span_key", "keeper")
    )
    drop = (
        spans.join(dup, "span_key")
        .where(F.struct(F.col("id"), F.col("pos")) != F.col("keeper"))
        .select(
            "id",
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + span - 1)
            ).alias("pos"),
        )
        .distinct()
    )
    kept = sents.join(drop, ["id", "pos"], "left_anti")
    rebuilt = kept.groupBy("id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "sentence"))),
                lambda s: s["sentence"],
            ),
            " ",
        ).alias("_clean"),
        F.count(F.lit(1)).alias("_n_kept"),
    )
    totals = base.select("id", F.size("arr").alias("_n_sents"))
    return (
        docs.join(rebuilt, docs[id_col] == rebuilt["id"], "left").drop("id")
        .join(totals, docs[id_col] == totals["id"], "left").drop("id")
        .withColumn("n_sentences", F.coalesce("_n_sents", F.lit(0)))
        .withColumn(
            "n_sentences_removed",
            F.coalesce("_n_sents", F.lit(0)) - F.coalesce("_n_kept", F.lit(0)),
        )
        .withColumn(text_col, F.coalesce("_clean", F.lit("")))
        .drop("_clean", "_n_kept", "_n_sents")
    )


def line_dedup(docs: DataFrame, id_col: str = "doc_id",
               text_col: str = "text", max_docs: int = 2) -> DataFrame:
    """C4-style global line deduplication (Raffel et al. 2020 §2.2, public
    paper): drop every line whose trimmed form occurs in more than
    `max_docs` distinct documents across the WHOLE corpus — the standard
    boilerplate/nav/footer removal pass.

    Returns docs with `<text_col>` rebuilt (original line order, blank
    lines preserved) plus `n_lines_removed`.

    Scale shape: one explode keyed by (trimmed line) for the global count —
    boilerplate lines are heavy keys but the count aggregates partially
    map-side; the rebuild is one groupBy(id) with an array_sort, no window.
    """
    did = F.col(id_col)
    lines = docs.select(
        did.alias("id"),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"),
    ).withColumn("key", F.trim("line"))
    counted = (
        lines.where(F.col("key") != "")
        .groupBy("key")
        .agg(F.countDistinct("id").alias("n_docs"))
        .where(F.col("n_docs") > max_docs)
        .select("key", F.lit(True).alias("drop"))
    )
    marked = lines.join(counted, "key", "left")
    kept = marked.where(F.col("drop").isNull() | (F.col("key") == ""))
    rebuilt = kept.groupBy("id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"],
            ),
            "\n",
        ).alias("_clean"),
        F.count(F.lit(1)).alias("_n_kept"),
    )
    totals = lines.groupBy("id").agg(F.count(F.lit(1)).alias("_n_lines"))
    return (
        docs.join(rebuilt, docs[id_col] == rebuilt["id"], "left").drop("id")
        .join(totals, docs[id_col] == totals["id"], "left").drop("id")
        .withColumn(
            "n_lines_removed",
            F.coalesce("_n_lines", F.lit(0)) - F.coalesce("_n_kept", F.lit(0)),
        )
        .withColumn(text_col, F.coalesce("_clean", F.lit("")))
        .drop("_clean", "_n_kept", "_n_lines")
    )


def host_boilerplate_strip(pages: DataFrame, url_col: str = "url",
                           text_col: str = "text", min_pages: int = 3,
                           min_share: float = 0.5,
                           id_col: str | None = None) -> DataFrame:
    """Per-host boilerplate line removal (CCNet/WET-style cleaning, Wenzek
    et al. 2020): within each host, drop every line whose trimmed form
    appears on at least ``min_share`` of that host's pages — nav bars,
    cookie banners, footers — while the SAME line on another host is left
    alone (unlike the corpus-global :func:`line_dedup`). Hosts with fewer
    than ``min_pages`` pages are never stripped (too little evidence).

    Returns pages with ``<text_col>`` rebuilt (original line order, blank
    lines preserved), plus ``host`` and ``n_lines_removed``.

    When the input may hold several rows per URL (a pre-dedup crawl with
    refetches), pass ``id_col`` — a per-ROW unique key — so the rebuild
    is keyed by it; without it the rebuild groups by URL and duplicate
    fetches of one URL would merge into a line-interleaved text. Line
    SHARE is always counted in distinct URLs (a refetched page is still
    one page of evidence).

    Scale shape: one posexplode keyed by (host, trimmed line); the
    frequency count is a (host, key) groupBy with map-side partial aggs
    (boilerplate keys are heavy but combine locally); host page totals are
    an agg over the page table joined onto the ALREADY-AGGREGATED line
    table (tiny next to the line set). Rebuild is one groupBy(url) with an
    array_sort — no window, no self-join. Reference parity: the reference
    has no corpus-level pass (single-page scope); this is the standard
    webtext-pipeline extension over crawled page sets."""
    from .urlops import url_host

    host = url_host(F.col(url_col))
    row_key = F.col(id_col) if id_col is not None else F.col(url_col)
    lines = pages.select(
        row_key.alias("_k"), F.col(url_col).alias("_u"), host.alias("_h"),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"),
    ).withColumn("key", F.trim("line"))
    host_pages = (
        pages.select(host.alias("_h"), F.col(url_col).alias("_u"))
        .groupBy("_h").agg(F.countDistinct("_u").alias("_n_pages"))
    )
    heavy = (
        lines.where(F.col("key") != "")
        .groupBy("_h", "key")
        .agg(F.countDistinct("_u").alias("_n_with"))
        .join(host_pages, "_h")
        .where((F.col("_n_pages") >= min_pages)
               & (F.col("_n_with") >= F.col("_n_pages") * min_share))
        .select("_h", "key", F.lit(True).alias("_drop"))
    )
    marked = lines.join(heavy, ["_h", "key"], "left")
    kept = marked.where(F.col("_drop").isNull() | (F.col("key") == ""))
    rebuilt = kept.groupBy("_k").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"],
            ),
            "\n",
        ).alias("_clean"),
        F.count(F.lit(1)).alias("_n_kept"),
    )
    totals = lines.groupBy("_k").agg(F.count(F.lit(1)).alias("_n_lines"))
    join_key = pages[id_col] if id_col is not None else pages[url_col]
    return (
        pages.withColumn("host", host)
        .join(rebuilt, join_key == rebuilt["_k"], "left").drop("_k")
        .join(totals, join_key == totals["_k"], "left").drop("_k")
        .withColumn(
            "n_lines_removed",
            F.coalesce("_n_lines", F.lit(0)) - F.coalesce("_n_kept", F.lit(0)),
        )
        .withColumn(text_col, F.coalesce("_clean", F.lit("")))
        .drop("_clean", "_n_kept", "_n_lines")
    )


def semdedup(
    vectors: DataFrame,
    k: int = 8,
    iterations: int = 2,
    eps: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic deduplication of an embedding
    space — k-means cluster the vectors, call any WITHIN-cluster pair with
    cosine >= eps a semantic duplicate, connect the pairs into duplicate
    groups, and keep exactly one vector per group: the member LEAST similar
    to its cluster centroid (the paper's keeper rule — low-centroid-
    similarity examples sit at the cluster edge and preserve diversity),
    ties broken by min id.

    Returns one row per input vector:
      (id, cluster, group_id, centroid_cos, keep)
    where group_id = min id of the duplicate group (singleton groups =
    the id itself, keep=true).

    Determinism contract: k-means follows kmeans_lloyd's round-6 centroid
    quantization; pair and centroid cosines are rounded to 6 decimals
    before the eps comparison / keeper ranking, so the kept set is
    bit-identical across engines and SQL-oracle-replayable.

    Scale shape (the paper runs this at LAION-5B): clustering is
    kmeans_lloyd (broadcast centroids, one grouped mean per round); the
    duplicate-pair join is an equi-join ON THE CLUSTER KEY — one shuffle of
    the corpus — with the quadratic blowup confined to each cluster, which
    is the algorithm's own contract: k must scale with n so per-cluster
    membership stays roughly constant (the paper uses k ~ n/1000). Group
    connection is cluster_pairs (materialized min-label rounds, diameter-
    bounded); the keeper rank is a window over duplicate-group members
    only, never the full corpus.
    """
    from .similarity import cosine, kmeans_lloyd

    assign, cents = kmeans_lloyd(
        vectors, k=k, iterations=iterations, id_col=id_col, vec_col=vec_col,
        checkpoint_dir=checkpoint_dir, return_centroids=True,
    )
    v = vectors.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    )
    av = v.join(assign.withColumnRenamed(id_col, "id"), "id")

    a = av.select(F.col("id").alias("id_a"), F.col("v").alias("va"), "cluster")
    b = av.select(F.col("id").alias("id_b"), F.col("v").alias("vb"), "cluster")
    pairs = (
        a.join(b, "cluster")
        .where(F.col("id_a") < F.col("id_b"))
        .where(F.round(cosine(F.col("va"), F.col("vb")), 6) >= eps)
        .select("id_a", "id_b")
    )
    groups = cluster_pairs(pairs, checkpoint_dir=checkpoint_dir).select(
        "id", F.col("cluster_id").alias("group_id")
    )
    cent_cos = av.join(F.broadcast(cents), "cluster").select(
        "id",
        F.round(cosine(F.col("v"), F.col("centroid")), 6)
        .alias("centroid_cos"),
    )
    w = Window.partitionBy("group_id").orderBy(
        F.asc("centroid_cos"), F.asc("id")
    )
    ranked = (
        groups.join(cent_cos, "id")
        .withColumn("_rn", F.row_number().over(w))
        .select("id", "group_id", "_rn")
    )
    return (
        av.select("id", "cluster")
        .join(cent_cos, "id", "left")
        .join(ranked, "id", "left")
        .select(
            F.col("id").alias(id_col),
            "cluster",
            F.coalesce("group_id", F.col("id")).alias("group_id"),
            "centroid_cos",
            (F.col("_rn").isNull() | (F.col("_rn") == 1)).alias("keep"),
        )
    )


# --- b-bit minhash (Li & Konig, WWW 2010 / CACM 2011) -----------------------

def bbit_pack_signatures(
    signatures: DataFrame,
    *,
    b: int = 2,
    num_hashes: int,
) -> DataFrame:
    """Compress minhash signatures to their lowest ``b`` bits per hash,
    packed 60/b-per-BIGINT: (id, bsig array<long>). At b=2 a 32-hash
    signature drops from 32×4 B to 8 B — the Li & Konig result is that
    for resemblance thresholds around 0.5+ the b-bit estimator needs
    only ~(1/b)·(extra hashes) to match full minhash variance, so the
    SIGNATURE STORE of the incremental dedup pipeline (one row per
    corpus doc, forever) shrinks ~16× at equal accuracy. Pure column
    algebra (mask + shift + sum), shuffle-free."""
    if b not in (1, 2, 4):
        raise ValueError("b must be 1, 2 or 4")
    mask = (1 << b) - 1
    group = 60 // b
    n_groups = -(-num_hashes // group)
    packed = []
    for g in range(n_groups):
        terms = None
        for i in range(group):
            idx = g * group + i
            if idx >= num_hashes:
                break
            t = F.shiftleft(
                F.element_at("sig", idx + 1).bitwiseAND(F.lit(mask)),
                b * i)
            terms = t if terms is None else terms + t
        packed.append(terms)
    return signatures.select("id", F.array(*packed).alias("bsig"))


def _bbit_unpack(col: Column, i: int, b: int) -> Column:
    group = 60 // b
    return F.shiftright(
        F.element_at(col, i // group + 1), (i % group) * b
    ).bitwiseAND(F.lit((1 << b) - 1))


def bbit_agreement(
    pairs: DataFrame,
    bsigs: DataFrame,
    *,
    b: int = 2,
    num_hashes: int,
) -> DataFrame:
    """Jaccard estimate for candidate pairs from b-bit signatures:
    (id_a, id_b, n_match, match_frac, est_jaccard). Random b-bit values
    collide at C = 2^-b even for unrelated docs, so the estimator
    de-biases: J = (match_frac - C) / (1 - C), clamped to [0, 1] (the
    paper's r1,r2→0 simplification — exact enough for dedup thresholds;
    the full C1b/C2b correction needs set sizes, which the exact-verify
    stage has anyway). Two broadcast-or-shuffle equi-joins against the
    packed store; comparisons are generated bit math, codegen-friendly."""
    c = 2.0 ** -b
    a = bsigs.select(F.col("id").alias("id_a"), F.col("bsig").alias("ba"))
    bb = bsigs.select(F.col("id").alias("id_b"), F.col("bsig").alias("bb"))
    j = pairs.join(a, "id_a").join(bb, "id_b")
    match = None
    for i in range(num_hashes):
        t = (_bbit_unpack(F.col("ba"), i, b)
             == _bbit_unpack(F.col("bb"), i, b)).cast("int")
        match = t if match is None else match + t
    frac = match.cast("double") / num_hashes
    est = (frac - F.lit(c)) / F.lit(1.0 - c)
    return j.select(
        "id_a", "id_b",
        match.alias("n_match"),
        frac.alias("match_frac"),
        F.least(F.greatest(est, F.lit(0.0)), F.lit(1.0))
        .alias("est_jaccard"),
    )


def cdc_chunks(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    w: int = 16,
    mask_bits: int = 6,
    max_len: int | None = None,
) -> DataFrame:
    """Content-defined chunking (the LBFS anchor rule — Muthitacharoen et
    al., SOSP 2001; FastCDC is the same idea with a faster gear hash):
    cut a document wherever the rolling w-char gram hash satisfies
    ``hash % 2^mask_bits == 0``. Because cut points depend only on LOCAL
    content, inserting or deleting bytes shifts at most the surrounding
    chunk — every other chunk keeps its identity, which is what makes CDC
    the storage-dedup primitive (two near-identical page captures share
    all but the edited chunk; fixed-size blocks would misalign
    everything). The WARC/page store's counterpart to the document-level
    minhash family: dedup the BYTES, not the documents.

    Returns (id, chunk_idx, chunk_start, chunk_len, chunk_hash) —
    chunk_start 1-based, expected chunk length ~2^mask_bits + w.
    ``max_len`` additionally splits oversized chunks at fixed offsets
    (FastCDC's max-size bound; a run of content with no anchors — e.g. a
    repeated byte — otherwise yields one giant chunk). Texts shorter than
    ``w`` are a single chunk; empty texts produce no row.

    Shape: like :func:`winnow_fingerprints`, every gram is hashed once
    per position inside one array expression — O(len) native md5s per
    document, no UDF, no shuffle until the caller aggregates. Chunk
    identity is the shared 60-bit hash over the chunk text."""
    if w < 2 or mask_bits < 1:
        raise ValueError(f"need w >= 2 and mask_bits >= 1, got {w}, {mask_bits}")
    t = F.col(text_col)
    ln = F.length(t)
    n_grams = F.greatest(ln - w + 1, F.lit(0))
    divisor = 1 << mask_bits
    anchors = F.when(n_grams >= 1, F.filter(
        F.sequence(F.lit(1), n_grams),
        lambda i: stable_hash60(t.substr(i, F.lit(w))) % divisor == 0,
    )).otherwise(F.array().cast("array<int>"))
    # cut AFTER the anchor gram's last char; drop a cut that lands exactly
    # at the end (it would create an empty trailing chunk)
    cuts = F.filter(
        F.transform(anchors, lambda i: i + w - 1), lambda c: c < ln)
    starts = F.concat(F.array(F.lit(1)), F.transform(cuts, lambda c: c + 1))
    ends = F.concat(cuts, F.array(ln))
    spans = F.zip_with(
        starts, ends,
        lambda s, e: F.struct(s.alias("s"), (e - s + 1).alias("l")))
    if max_len is not None:
        spans = F.flatten(F.transform(
            spans,
            lambda sp: F.transform(
                F.sequence(
                    F.lit(0),
                    ((sp["l"] - F.lit(1)) / F.lit(max_len)).cast("int")),
                lambda j: F.struct(
                    (sp["s"] + j * max_len).alias("s"),
                    F.least(sp["l"] - j * max_len, F.lit(max_len))
                    .alias("l")),
            ),
        ))
    out = docs.where(ln > 0).select(
        F.col(id_col).alias("id"),
        t.alias("_cdc_text"),
        F.posexplode(spans).alias("chunk_idx", "sp"),
    )
    chunk = F.expr("substring(_cdc_text, sp.s, sp.l)")
    return out.select(
        "id", "chunk_idx",
        F.col("sp.s").alias("chunk_start"),
        F.col("sp.l").alias("chunk_len"),
        stable_hash60(chunk).alias("chunk_hash"),
    )


def cdc_dedup_stats(chunks: DataFrame) -> DataFrame:
    """Storage-dedup accounting over :func:`cdc_chunks` output: one row —
    (n_chunks, n_distinct, total_bytes, distinct_bytes, dedup_ratio).
    ``dedup_ratio`` = total/distinct bytes: how much smaller the
    chunk-addressed store is than the raw capture log. One partial-agg
    groupBy(chunk_hash) then a one-row rollup — linear, mergeable across
    epochs by re-running over the union (chunk identity is content
    identity, so epochs dedup against each other for free)."""
    per = chunks.groupBy("chunk_hash").agg(
        F.count(F.lit(1)).alias("n"),
        F.max("chunk_len").alias("clen"),
    )
    return per.agg(
        F.sum("n").alias("n_chunks"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.sum(F.col("n") * F.col("clen")).alias("total_bytes"),
        F.sum("clen").alias("distinct_bytes"),
        F.round(F.sum(F.col("n") * F.col("clen")) / F.sum("clen") + 1e-9, 6)
        .alias("dedup_ratio"),
    )
