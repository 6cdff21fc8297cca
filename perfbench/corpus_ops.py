"""``corpus_ops``: the corpus operator modules, which the ad workload
never touches.

Set-up builds the three persisted indexes over the seeded corpus: the
MinHash dedup index (``operators.incremental``), the IVF vector index
(``operators.similarity``) and the BM25 text index
(``operators.textindex``). Every pass then runs

1. MinHash-LSH near-duplicate pairs over the corpus
   (``dedup.minhash_lsh_pairs``), then connected components over them
   (``dedup.connected_components``);
2. one daily shard: ``incremental.daily_ingest`` classifies it against
   the dedup index (one operation), ``incremental.append_shard_to_index``
   appends it (another);
3. IVF top-k probes, each a batch of seeded query vectors;
4. BM25 top-k probes, each a seeded set of query terms.

Oracles: DuckDB replays of the registry's portable MinHash-LSH and
BM25 queries, a union-find over the oracle pairs for the components,
the daily-ingest classification rebuilt in SQL over corpus + earlier
shards, and a brute-force cosine top-k for the vector probes, whose
recall must meet the registry's IVF gate.

The vector index is the flat IVF index (``build_ann_index``), not
IVF-PQ: on a 4-core box the IVF-PQ build costs 13-15 s cold and its
probe 3 s, which the benchmark's time budget cannot hold.
"""

from __future__ import annotations

import os
import statistics
import sys
import time

import numpy as np

import inputs
import oracle
from harness import dir_bytes
from tracing import install_collect_hook

TOP_K = 10
#: The registry's BM25 top-k entry and oracle use k = 50.
BM25_K = 50
#: The registry's MinHash and daily-ingest entries use this threshold.
JACCARD = 0.2


def _union_find_components(ids, pairs) -> list[tuple[int, int]]:
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return [(i, find(i)) for i in ids]


def bm25_topk_sql(terms: list[str]) -> str:
    """The registry's BM25 top-k oracle for ``terms`` (the registry
    renders it for its default terms)."""
    from query_planner_optimizer_spark.operators import textindex

    default = textindex.DEFAULT_QUERY_TERMS
    textindex.DEFAULT_QUERY_TERMS = tuple(terms)
    try:
        return textindex.entry_oracles()["relevance_bm25_index_topk"]
    finally:
        textindex.DEFAULT_QUERY_TERMS = default


def daily_ingest_sql(lsh: str) -> str:
    """The registry's daily-ingest classification, with the corpus and
    the shard given as tables instead of doc-id residues: exact
    duplicate (min corpus id with the same text) beats the best
    LSH-verified cross pair (jaccard desc, corpus id asc); the rest is
    new. ``lsh`` is the pair query over ``documents`` = corpus + shard."""
    return f"""
        WITH pairs AS ({lsh}),
        exact AS (
            SELECT s.doc_id, MIN(c.doc_id) AS match_id
            FROM shard s JOIN corpus c ON sha256(s.text) = sha256(c.text)
            GROUP BY s.doc_id
        ),
        cross_pairs AS (
            SELECT CASE WHEN a_shard THEN doc_b ELSE doc_a END AS corpus_id,
                   CASE WHEN a_shard THEN doc_a ELSE doc_b END AS shard_id,
                   jaccard
            FROM (SELECT *, doc_a IN (SELECT doc_id FROM shard) AS a_shard,
                            doc_b IN (SELECT doc_id FROM shard) AS b_shard
                  FROM pairs)
            WHERE a_shard <> b_shard
        ),
        best AS (
            SELECT shard_id AS doc_id, corpus_id AS match_id,
                   jaccard AS score
            FROM (SELECT *, row_number() OVER (
                      PARTITION BY shard_id
                      ORDER BY jaccard DESC, corpus_id ASC) AS rn
                  FROM cross_pairs) WHERE rn = 1
        )
        SELECT doc_id, 'exact_dup' AS status, match_id,
               CAST(1.0 AS DOUBLE) AS score FROM exact
        UNION ALL
        SELECT doc_id, 'near_dup', match_id, score FROM best
        WHERE doc_id NOT IN (SELECT doc_id FROM exact)
        UNION ALL
        SELECT doc_id, 'new', CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE)
        FROM shard
        WHERE doc_id NOT IN (SELECT doc_id FROM exact)
          AND doc_id NOT IN (SELECT doc_id FROM best)
    """


class CorpusOps:
    name = "corpus_ops"

    def __init__(self, run):
        self.run = run
        self.tr = run.tracer
        self.answers: list[tuple] = []  # (kind, key, rows)
        self.ingest_rows = run.size["shard_docs"]
        self.shards_ingested = 0

    # -- inputs and set-up ----------------------------------------------

    def generate(self) -> None:
        self.inputs = inputs.write_corpus(
            os.path.join(self.run.work, "input"), self.run.seed,
            self.run.size)

    def has_pass(self, index: int) -> bool:
        return index < len(self.inputs.shard_parquets)

    def setup(self) -> float:
        """Build the three indexes; returns the seconds taken."""
        from query_planner_optimizer_spark.catalog import spread
        from query_planner_optimizer_spark.operators.incremental import (
            build_dedup_index,
        )
        from query_planner_optimizer_spark.operators.similarity import (
            build_ann_index,
        )
        from query_planner_optimizer_spark.operators.textindex import (
            build_text_index,
        )

        spark = self.run.spark
        root = os.path.join(self.run.work, "indexes")
        times = {}
        t0 = time.perf_counter()
        docs = spread(spark.read.parquet(self.inputs.docs_parquet))
        vecs = spark.read.parquet(self.inputs.vectors_parquet)
        with self.tr.span("incremental.build_dedup_index"):
            t = time.perf_counter()
            build_dedup_index(docs, os.path.join(root, "dedup"),
                              portable=True)
            times["dedup"] = time.perf_counter() - t
        with self.tr.span("similarity.build_ann_index"):
            t = time.perf_counter()
            build_ann_index(vecs, os.path.join(root, "ivf"))
            times["similarity"] = time.perf_counter() - t
        with self.tr.span("textindex.build_text_index"):
            t = time.perf_counter()
            build_text_index(docs, os.path.join(root, "text"))
            times["textindex"] = time.perf_counter() - t
        seconds = time.perf_counter() - t0
        self.build_s = times
        self.index_root = root
        self.docs, self.vecs = docs, vecs
        self.probe_vecs = spark.read.parquet(self.inputs.probes_parquet)
        if self.tr.enabled:
            install_collect_hook(self.tr)
        return seconds

    # -- passes ---------------------------------------------------------

    def run_pass(self, index: int) -> None:
        self._dedup(index)
        self._ingest(index)
        self._ivf_probe(index)
        self._bm25_probe(index)

    def _dedup(self, index: int) -> None:
        from query_planner_optimizer_spark.operators.dedup import (
            connected_components, minhash_lsh_pairs,
        )

        pairs = None
        with self.run.op("minhash"):
            with self.tr.span("dedup.minhash_lsh_pairs"):
                pairs_df = minhash_lsh_pairs(self.docs, threshold=JACCARD,
                                             portable=True)
                pairs = pairs_df.collect()
            self.tr.count("dedup.pairs", len(pairs))
            self.answers.append(("minhash", None, pairs))
        if pairs is None:
            return
        with self.run.op("cc"):
            with self.tr.span("dedup.connected_components"):
                edges = self.run.spark.createDataFrame(
                    [(r["doc_a"], r["doc_b"]) for r in pairs],
                    "doc_a long, doc_b long")
                comp = connected_components(
                    edges, self.docs.select("doc_id")).collect()
            self.answers.append(("cc", None, comp))

    def _ingest(self, index: int) -> None:
        from query_planner_optimizer_spark.operators.incremental import (
            append_shard_to_index, daily_ingest,
        )

        spark = self.run.spark
        path = self.inputs.shard_parquets[index]
        dedup_dir = os.path.join(self.index_root, "dedup")
        with self.run.op("ingest"):
            shard = spark.read.parquet(path)
            with self.tr.span("incremental.daily_ingest"):
                report = daily_ingest(spark, shard, dedup_dir,
                                      threshold=JACCARD,
                                      portable=True).collect()
            self.answers.append(("ingest", index, report))
        with self.run.op("append"):
            with self.tr.span("incremental.append_shard_to_index"):
                append_shard_to_index(shard, dedup_dir, portable=True)
            self.shards_ingested = index + 1

    def _ivf_probe(self, batch: int) -> None:
        from pyspark.sql import functions as F

        from query_planner_optimizer_spark.operators.similarity import (
            ann_index_topk,
        )

        with self.run.op("ivf_probe"):
            with self.tr.span("similarity.ann_index_topk"):
                rows = ann_index_topk(
                    self.run.spark,
                    self.probe_vecs.filter(F.col("batch") == batch),
                    os.path.join(self.index_root, "ivf"), k=TOP_K).collect()
            self.answers.append(("ivf_probe", batch, rows))

    def _bm25_probe(self, probe: int) -> None:
        from query_planner_optimizer_spark.operators.textindex import (
            bm25_index_topk,
        )

        terms = self.inputs.probe_terms[probe]
        with self.run.op("bm25_probe"):
            with self.tr.span("textindex.bm25_index_topk"):
                rows = bm25_index_topk(
                    self.run.spark, os.path.join(self.index_root, "text"),
                    terms, k=BM25_K).collect()
            self.answers.append(("bm25_probe", probe, rows))

    # -- results --------------------------------------------------------

    def corrupt_one_answer(self) -> None:
        """Test hook: change one value of the first non-empty answer."""
        i = next(i for i, a in enumerate(self.answers) if a[2])
        kind, key, rows = self.answers[i]
        bad = tuple(rows[0])[:-1] + (-1,)
        self.answers[i] = (kind, key, [bad] + list(rows[1:]))

    def _recalls(self, batch: int, rows) -> list[float]:
        """Recall@k of one probe batch against brute-force cosine."""
        q = self.probe_vectors[batch * inputs.QUERIES_PER_PROBE:
                               (batch + 1) * inputs.QUERIES_PER_PROBE]
        sims = (q / np.linalg.norm(q, axis=1, keepdims=True)) @ self.unit.T
        got: dict[int, set] = {}
        for r in rows:
            got.setdefault(int(r["qid"]) - inputs.PROBE_ID_BASE,
                           set()).add(int(r["nid"]))
        out = []
        for j in range(len(q)):
            truth = set(np.argsort(-sims[j], kind="stable")[:TOP_K].tolist())
            qid = batch * inputs.QUERIES_PER_PROBE + j
            out.append(len(truth & got.get(qid, set())) / TOP_K)
        return out

    def check(self) -> int:
        from query_planner_optimizer_spark.operators.dedup import (
            _minhash_lsh_oracle,
        )
        from query_planner_optimizer_spark.operators.similarity import (
            IVF_RECALL_AVG_BOUND, IVF_RECALL_MIN_BOUND,
        )

        vectors = inputs.read_vectors(self.inputs.vectors_parquet)
        self.unit = vectors / np.linalg.norm(vectors, axis=1, keepdims=True)
        self.probe_vectors = inputs.read_vectors(self.inputs.probes_parquet)
        con = oracle.connect()
        docs = self.inputs.docs_parquet
        con.execute(f"CREATE VIEW documents AS SELECT doc_id, text "
                    f"FROM read_parquet('{docs}')")
        lsh = _minhash_lsh_oracle(threshold=JACCARD)
        want_pairs = con.execute(lsh).fetchall()
        ids = [r[0] for r in con.execute(
            "SELECT doc_id FROM documents ORDER BY doc_id").fetchall()]
        want_cc = _union_find_components(ids, [(a, b) for a, b, _ in
                                               want_pairs])
        wrong = 0
        self.recalls: list[float] = []
        bm25: dict[int, list] = {}
        for kind, key, rows in self.answers:
            if kind == "minhash":
                ok = oracle.same_rows(rows, want_pairs)
            elif kind == "cc":
                ok = oracle.same_rows(rows, want_cc)
            elif kind == "ivf_probe":
                rec = self._recalls(key, rows)
                if key >= 1:  # steady passes
                    self.recalls.extend(rec)
                ok = (statistics.mean(rec) >= IVF_RECALL_AVG_BOUND
                      and min(rec) >= IVF_RECALL_MIN_BOUND)
            elif kind == "bm25_probe":
                if key not in bm25:
                    bm25[key] = con.execute(bm25_topk_sql(
                        self.inputs.probe_terms[key])).fetchall()
                ok = oracle.same_rows(rows, bm25[key])
            else:
                ok = oracle.same_rows(rows, self._ingest_oracle(con, key))
            if not ok:
                wrong += 1
                print(f"perfbench: wrong {kind} answer ({key})",
                      file=sys.stderr)
        con.close()
        return wrong

    def _ingest_oracle(self, con, index: int) -> list:
        from query_planner_optimizer_spark.operators.dedup import (
            _minhash_lsh_oracle,
        )

        earlier = [self.inputs.docs_parquet] + \
            self.inputs.shard_parquets[:index]
        files = ", ".join(f"'{p}'" for p in earlier)
        shard = self.inputs.shard_parquets[index]
        con.execute(f"CREATE OR REPLACE TABLE corpus AS SELECT doc_id, text "
                    f"FROM read_parquet([{files}])")
        con.execute(f"CREATE OR REPLACE TABLE shard AS SELECT doc_id, text "
                    f"FROM read_parquet('{shard}')")
        con.execute("CREATE OR REPLACE VIEW documents AS "
                    "SELECT * FROM corpus UNION ALL SELECT * FROM shard")
        sql = daily_ingest_sql(_minhash_lsh_oracle(threshold=JACCARD))
        rows = con.execute(sql).fetchall()
        con.execute(f"CREATE OR REPLACE VIEW documents AS SELECT doc_id, text "
                    f"FROM read_parquet('{self.inputs.docs_parquet}')")
        return rows

    def stored_bytes(self) -> int:
        return dir_bytes(self.index_root)[1]

    def input_bytes(self) -> int:
        folded = self.inputs.shard_parquets[:self.shards_ingested]
        return (os.path.getsize(self.inputs.docs_parquet)
                + os.path.getsize(self.inputs.vectors_parquet)
                + sum(os.path.getsize(p) for p in folded))

    def layer_metrics(self, spans: list, counts: dict) -> dict:
        def mean_s(name):
            xs = [s.seconds for s in spans if s.name == name]
            return sum(xs) / len(xs) if xs else 0.0

        passes = sum(1 for s in spans if s.name == "dedup.minhash_lsh_pairs")
        ingest = [s.seconds for s in spans if s.name.startswith(
            "incremental.") and s.name != "incremental.build_dedup_index"]
        return {
            "dedup.minhash_s": mean_s("dedup.minhash_lsh_pairs"),
            "dedup.pairs_out": counts.get("dedup.pairs", 0) / max(passes, 1),
            "dedup.cc_s": mean_s("dedup.connected_components"),
            "incremental.ingest_s": sum(ingest) / max(passes, 1),
            "similarity.build_s": self.build_s["similarity"],
            "similarity.probe_ms": 1000.0 * mean_s(
                "similarity.ann_index_topk"),
            "similarity.recall_at_k": statistics.mean(self.recalls),
            "textindex.build_s": self.build_s["textindex"],
            "textindex.probe_ms": 1000.0 * mean_s(
                "textindex.bm25_index_topk"),
        }
