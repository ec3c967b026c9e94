"""``curation`` workload: the LLM-curation pipeline over corpus shards.

One cycle runs the pipeline over one shard, and every step is one op:
``text_stats``, ``dedup_exact``, ``dedup_clusters`` (MinHash-LSH edges ->
connected components), ``embedding_near_dup`` (LSH), ``knn_label_probe``
and ``write_training_shards`` of the kept documents. Even shards hold one
near-dup chain of 64+ documents; the cold cycle runs on a small warm-up
shard with short chains only.

Oracles: DuckDB for text stats, exact dedup and the kNN probe; an exact
all-pairs Jaccard graph plus Python union-find for the clusters; NumPy
cosine for embedding near-dups; the union-find's kept set for the write.
"""

from __future__ import annotations

import contextlib
import glob
import hashlib
import json
import os
from decimal import ROUND_HALF_UP, Decimal

import numpy as np

from checks import ToHash, checksum
from sparkmetrics import patched
from gen import N_SHARDS, shard_label, shingles

THRESHOLD = 0.8  # dedup_clusters
EMB_THRESHOLD = 0.9
KNN_K = 5
WRITE_SHARDS = 4

TEXT_STATS_SQL = r"""
    SELECT doc_id,
           len(string_split_regex(trim(text), '\s+')) AS n_tokens,
           length(text) AS n_chars_actual,
           round(length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))::DOUBLE / length(text), 4)
               AS letter_ratio,
           round(length(regexp_replace(text, '\s+', '', 'g'))::DOUBLE
                 / len(string_split_regex(trim(text), '\s+')), 4) AS avg_word_len,
           round(0.4 * least(len(string_split_regex(trim(text), '\s+')) / 64.0, 1.0)
                 + 0.3 * length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))::DOUBLE / length(text)
                 + 0.3 * greatest(0.0, 1.0 - abs(
                       length(regexp_replace(text, '\s+', '', 'g'))::DOUBLE
                       / len(string_split_regex(trim(text), '\s+')) - 5.0) / 5.0), 4)
               AS quality,
           md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
    FROM docs"""
TEXT_COLS = ["doc_id", "n_tokens", "n_chars_actual", "letter_ratio", "avg_word_len",
             "quality", "fp"]

DEDUP_EXACT_SQL = r"""
    SELECT doc_id FROM docs WHERE doc_id IN (
        SELECT min(doc_id) FROM docs
        GROUP BY md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')))"""

KNN_SQL = f"""
    WITH e AS (SELECT vec_id, label,
                      list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM emb),
    sims AS (
        SELECT q.vec_id AS q_id, q.label AS label, n.vec_id AS n_id, n.label AS n_label,
               round(list_cosine_similarity(q.v, n.v), 4) AS sim
        FROM e q JOIN e n ON q.vec_id != n.vec_id),
    top AS (SELECT * FROM sims QUALIFY row_number() OVER (
                PARTITION BY q_id ORDER BY sim DESC, n_id) <= {KNN_K}),
    votes AS (SELECT q_id, label, n_label, count(*) AS n_votes
              FROM top GROUP BY q_id, label, n_label)
    SELECT q_id AS vec_id, label, n_label AS predicted, n_label = label AS correct
    FROM votes QUALIFY row_number() OVER (
        PARTITION BY q_id ORDER BY n_votes DESC, n_label) = 1"""

CLUSTER_COLS = ["doc_id", "canonical_id", "is_duplicate"]
NEAR_DUP_COLS = ["vec_id", "canonical_id", "n_neighbors", "is_duplicate"]
KNN_COLS = ["vec_id", "label", "predicted", "correct"]


def jaccard(a: str, b: str) -> float:
    sa, sb = shingles(a), shingles(b)
    return len(sa & sb) / len(sa | sb)


def round4_at_least(x: float, threshold: float) -> bool:
    """``round(x, 4) >= threshold`` with Spark's HALF_UP decimal rounding."""
    return Decimal(repr(float(x))).quantize(Decimal("0.0001"), ROUND_HALF_UP) >= \
        Decimal(repr(threshold))


def jaccard_edges(ids: list[int], texts: list[str], threshold: float) -> list[tuple]:
    """Every pair with rounded exact char-5-gram Jaccard >= threshold,
    from an inverted shingle index (all pairs sharing a shingle)."""
    sets = [shingles(t) for t in texts]
    vocab: dict[str, int] = {}
    rows, cols = [], []
    for d, s in enumerate(sets):
        for g in s:
            cols.append(vocab.setdefault(g, len(vocab)))
            rows.append(d)
    r, c = np.array(rows), np.array(cols)
    order = np.lexsort((r, c))
    r, c = r[order], c[order]
    cut = np.flatnonzero(np.diff(c)) + 1
    starts, ends = np.r_[0, cut], np.r_[cut, len(c)]
    sizes = ends - starts
    n = len(sets)
    codes = []
    for g in np.unique(sizes[sizes >= 2]):
        sel = starts[sizes == g]
        m = r[sel[:, None] + np.arange(g)]
        iu, ju = np.triu_indices(g, 1)
        codes.append(m[:, iu].ravel() * n + m[:, ju].ravel())
    if not codes:
        return []
    pair, inter = np.unique(np.concatenate(codes), return_counts=True)
    a, b = pair // n, pair % n
    card = np.array([len(s) for s in sets])
    jac = inter / (card[a] + card[b] - inter)
    near = np.flatnonzero(jac >= threshold - 1e-4)
    return [(ids[a[k]], ids[b[k]], float(jac[k])) for k in near
            if round4_at_least(jac[k], threshold)]


def components(ids: list[int], edges) -> dict[int, int]:
    """Union-find: node -> smallest id in its component."""
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b, *_ in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {i: find(i) for i in ids}


def ids_digest(ids) -> tuple[int, int]:
    ids = sorted(int(i) for i in ids)
    return len(ids), int(hashlib.sha256(json.dumps(ids).encode()).hexdigest()[:15], 16)


def read_written(path: str) -> tuple[int, int]:
    """Read back ``write_training_shards`` output: (rows, digest of ids),
    or digest -1 when the files are not contiguous sorted ranges."""
    import pyarrow.parquet as pq

    files = sorted(glob.glob(os.path.join(path, "part-*.parquet")))
    ids, prev_max, ok = [], None, True
    for f in files:
        col = pq.read_table(f, columns=["doc_id"])["doc_id"].to_numpy()
        if len(col) == 0:
            continue
        ok = ok and bool(np.all(np.diff(col) > 0))
        ok = ok and (prev_max is None or col[0] > prev_max)
        prev_max = col[-1]
        ids.append(col)
    allids = np.concatenate(ids) if ids else np.array([], np.int64)
    n, h = ids_digest(allids)
    return n, (h if ok else -1)


def cosine_near_dups(ids: np.ndarray, vecs: np.ndarray, threshold: float) -> list[tuple]:
    v = vecs.astype(np.float64)
    v = v / np.linalg.norm(v, axis=1, keepdims=True)
    sims = v @ v.T
    sims = np.sign(sims) * np.floor(np.abs(sims) * 1e4 + 0.5) / 1e4
    out = []
    for k, row in enumerate(sims >= threshold):
        nb = ids[row]
        canon = int(nb.min())
        out.append((int(ids[k]), canon, int(len(nb)), canon != int(ids[k])))
    return out


class Curation:
    name = "curation"

    def __init__(self, spark, inputs: str, run_dir: str, tracer, props: dict):
        self.spark, self.d, self.tracer = spark, inputs, tracer
        self.out_dir = os.path.join(run_dir, "shards")
        self.max_cycles = N_SHARDS + 1
        with open(os.path.join(inputs, "truth.json")) as f:
            self.truth = json.load(f)

    def _path(self, kind: str, label: str) -> str:
        return os.path.join(self.d, f"{kind}_{label}.parquet")

    def cycle(self, i: int) -> list[list[tuple]]:
        """The cold cycle runs the pipeline over the warm-up shard; steady
        cycle i over shard i - 1 (even shards hold a long chain)."""
        return self.pipeline(shard_label(i - 1 if i else None))

    def pipeline(self, shard: str) -> list[list[tuple]]:
        """Two groups of ops: the five reads of the shard, then the write of
        the documents ``dedup_clusters`` kept."""
        import pyarrow.parquet as pq

        import pyarrow_ops_spark.functions.dedup as dedup_mod
        from pyarrow_ops_spark import (
            dedup_clusters, dedup_exact, load_table, text_stats, write_training_shards,
        )
        from pyarrow_ops_spark.functions.similarity import (
            embedding_near_dup, knn_label_probe,
        )

        call, spark = self.tracer.call, self.spark
        docs = load_table(spark, f"docs_{shard}", self.d)
        emb = load_table(spark, f"emb_{shard}", self.d)
        n = pq.ParquetFile(self._path("docs", shard)).metadata.num_rows
        kept = {}

        def s_text():
            with call("text.text_stats"):
                return {"text_stats": checksum(text_stats(docs), TEXT_COLS)}

        def s_exact():
            with call("dedup.dedup_exact"):
                return {"dedup_exact": checksum(dedup_exact(docs), ["doc_id"])}

        def s_clusters():
            cc = dedup_mod.connected_components
            before = getattr(cc, "last_stats", None)
            box: dict = {}
            with contextlib.ExitStack() as stack:
                if self.tracer.enabled:
                    stack.enter_context(patched(
                        dedup_mod, "minhash_lsh_edges", self._traced_edges(shard, box)))
                    stack.enter_context(patched(
                        dedup_mod, "connected_components", self._traced_cc(box)))
                with call("dedup.dedup_clusters"):
                    out = dedup_clusters(docs, threshold=THRESHOLD).persist()
                    res = checksum(out, CLUSTER_COLS)
            if self.tracer.enabled:
                stats = box.get("cc")
            else:
                stats = getattr(dedup_mod.connected_components, "last_stats", None)
                stats = stats if stats is not before else None
            kept["df"] = out
            kept["cc_failed"] = bool(stats) and not stats["converged"]
            outputs = {"dedup_clusters": res}
            if "precision_ok" in box:  # traced run: every emitted edge checked
                outputs["edge_precision"] = (int(box["precision_ok"]), 0)
            return {**outputs, "flags": {"reported_failure": kept["cc_failed"], "cc": stats}}

        def s_near_dup():
            with call("similarity.embedding_near_dup"):
                nd = embedding_near_dup(emb, threshold=EMB_THRESHOLD, method="lsh",
                                        dim=32)
                return {"embedding_near_dup": checksum(nd, NEAR_DUP_COLS)}

        def s_knn():
            with call("similarity.knn_label_probe"):
                return {"knn_label_probe": checksum(
                    knn_label_probe(emb, k=KNN_K, n_rows=n), KNN_COLS)}

        def s_write():
            if "df" not in kept:
                raise RuntimeError("dedup_clusters failed; nothing to write")
            path = os.path.join(self.out_dir, f"shard_{shard}")
            keep = kept["df"].filter(~kept["df"]["is_duplicate"]).select("doc_id")
            with call("sources.write_training_shards"):
                write_training_shards(docs.join(keep, "doc_id", "semi"), path,
                                      order_col="doc_id", n_shards=WRITE_SHARDS)
            # writes what dedup_clusters kept: a reported CC failure carries over
            return {"write_training_shards": read_written(path),
                    "flags": {"reported_failure": kept["cc_failed"]}}

        return [[(shard, name, n, fn) for name, fn in (
                    ("text_stats", s_text), ("dedup_exact", s_exact),
                    ("dedup_clusters", s_clusters), ("embedding_near_dup", s_near_dup),
                    ("knn_label_probe", s_knn))],
                [(shard, "write_training_shards", n, s_write)]]

    def _traced_edges(self, shard: str, box: dict):
        """Wrap ``minhash_lsh_edges`` for the traced run: span + tag around
        the call, output materialized inside it (collected, then handed on
        as a local relation), and the emitted edges checked: exact Jaccard
        of every edge (precision) and the planted pairs found (recall)."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        tracer, spark = self.tracer, self.spark
        docs = pq.read_table(self._path("docs", shard)).to_pydict()
        text = dict(zip(docs["doc_id"], docs["text"]))
        rep: dict[str, int] = {}
        for i in sorted(text):
            rep.setdefault(text[i], i)
        planted = self.truth[shard]["planted_edges"]

        def wrap(orig):
            def edges(*a, **k):
                with tracer.call("dedup.minhash_lsh_edges") as sp:
                    out = orig(*a, **k)
                    rows = out.collect()
                    stats = out.bucket_stats.get() if hasattr(out, "bucket_stats") else {}
                    mat = spark.createDataFrame(pa.table(
                        {"id_a": [r[0] for r in rows], "id_b": [r[1] for r in rows]},
                        schema=pa.schema([("id_a", pa.int64()), ("id_b", pa.int64())])))
                    for attr in ("cached_relations", "bucket_stats"):
                        if hasattr(out, attr):
                            setattr(mat, attr, getattr(out, attr))
                # the checks run outside the span
                pairs = {(min(r[0], r[1]), max(r[0], r[1])) for r in rows}
                ok = sum(round4_at_least(jaccard(text[a], text[b]), THRESHOLD)
                         for a, b in pairs)
                found = 0
                for a, b in planted:
                    ra, rb = rep[text[a]], rep[text[b]]
                    found += ra == rb or (min(ra, rb), max(ra, rb)) in pairs
                box["precision_ok"] = ok == len(pairs)
                sp["attrs"].update(
                    rows_out=len(rows),
                    buckets_dropped=stats.get("dropped_buckets", 0),
                    max_bucket_size=stats.get("max_bucket_size", 0),
                    precision=ok / len(pairs) if pairs else 1.0,
                    planted_recall=found / len(planted) if planted else 1.0)
                return mat
            return edges
        return wrap

    def _traced_cc(self, box: dict):
        """Wrap ``connected_components``: span + tag; its labels are already
        checkpointed when it returns. The function records its stats on
        the name it is called by, i.e. on this wrapper."""
        tracer = self.tracer

        def wrap(orig):
            def cc(*a, **k):
                with tracer.call("dedup.connected_components") as sp:
                    res = orig(*a, **k)
                    sp["attrs"]["cc"] = box["cc"] = getattr(cc, "last_stats", None)
                return res
            return cc
        return wrap

    def expected(self, shard: str) -> dict:
        import duckdb
        import pyarrow as pa
        import pyarrow.parquet as pq

        docs = pq.read_table(self._path("docs", shard))
        emb = pq.read_table(self._path("emb", shard))
        con = duckdb.connect()
        try:
            con.register("docs", docs)
            con.register("emb", emb)
            text = con.execute(TEXT_STATS_SQL).arrow()
            exact = con.execute(DEDUP_EXACT_SQL).arrow()
            knn = con.execute(KNN_SQL).arrow()
        finally:
            con.close()
        ids = docs["doc_id"].to_pylist()
        comp = components(ids, jaccard_edges(ids, docs["text"].to_pylist(), THRESHOLD))
        clusters = pa.table({"doc_id": list(comp), "canonical_id": list(comp.values()),
                             "is_duplicate": [c != i for i, c in comp.items()]})
        near = pa.Table.from_pylist(
            [dict(zip(NEAR_DUP_COLS, r)) for r in cosine_near_dups(
                emb["vec_id"].to_numpy(),
                np.stack(emb["embedding"].to_numpy(zero_copy_only=False)), EMB_THRESHOLD)],
            schema=pa.schema([("vec_id", pa.int64()), ("canonical_id", pa.int64()),
                              ("n_neighbors", pa.int64()), ("is_duplicate", pa.bool_())]))
        exp = {
            "text_stats": ToHash(text, TEXT_COLS),
            "dedup_exact": ToHash(exact, ["doc_id"]),
            "dedup_clusters": ToHash(clusters, CLUSTER_COLS),
            "embedding_near_dup": ToHash(near, NEAR_DUP_COLS),
            "knn_label_probe": ToHash(knn, KNN_COLS),
        }
        exp["write_training_shards"] = ids_digest(i for i, c in comp.items() if c == i)
        exp["edge_precision"] = (1, 0)
        return exp
