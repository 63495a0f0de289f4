"""Seeded inputs for the request_path workload.

Two pieces, both a pure function of the seed:

* ``write_catalog`` writes a product catalogue in the testdata schema:
  ``embeddings.parquet`` (vec_id, embedding list<float>, label) holding unit
  vectors drawn around seeded cluster centres, and ``documents.parquet``
  (doc_id, text, lang, source, n_chars) from which ``Helpers.metaAnalog``
  derives title, summary, rating, review count and price.
* ``request_stream`` returns the closed-loop client's requests: a budget
  phrase ("... under $N") with a seeded product's embedding as the query
  vector, each followed by three questions on seeded focus ranks.
"""
import os

import numpy as np

WORDS = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window spark part "
         "group big sort query fast").split()
ADJECTIVES = ["best", "cheap", "quiet", "compact", "durable", "fast", "small"]
TOPICS = ["price", "rating", "summary", "title", "reviews", "value"]
QUESTIONS = [
    "what is the {t} of this {w}",
    "how good is the {t} for a {w} {v}",
    "tell me the {t}",
    "is the {t} worth it for {w} work",
]
LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]


def catalog(seed, out_dir, n=20000):
    """The seeded catalogue in ``out_dir``, written unless an earlier run
    left it there; returns its vectors."""
    import pyarrow.parquet as pq

    if os.path.exists(os.path.join(out_dir, "_done")):
        os.utime(out_dir)
        col = pq.read_table(os.path.join(out_dir, "embeddings.parquet"),
                            columns=["embedding"]).column(0).combine_chunks()
        return col.values.to_numpy().reshape(len(col), -1)
    vec = write_catalog(seed, out_dir, n=n)
    open(os.path.join(out_dir, "_done"), "w").close()
    return vec


def write_catalog(seed, out_dir, n=20000, dim=384, clusters=64):
    """Write the seeded catalogue to ``out_dir`` (created if missing)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng([seed, 1])
    centres = rng.standard_normal((clusters, dim))
    label = rng.integers(0, clusters, n)
    vec = centres[label] + 0.8 * rng.standard_normal((n, dim))
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    vec = vec.astype(np.float32)

    # each cluster favours its own slice of the vocabulary, so lexical
    # overlap with a query tracks the vector neighbourhood
    n_words = rng.integers(12, 60, n)
    texts = []
    for i in range(n):
        c = int(label[i])
        own = [WORDS[(c + k) % len(WORDS)] for k in range(5)]
        pick = rng.random(int(n_words[i])) < 0.4
        drawn = rng.integers(0, len(WORDS), int(n_words[i]))
        texts.append(" ".join(own[j % 5] if pick[j] else WORDS[drawn[j]]
                              for j in range(int(n_words[i]))))
    os.makedirs(out_dir, exist_ok=True)
    ids = pa.array(np.arange(n, dtype=np.int64))
    offsets = pa.array(np.arange(0, (n + 1) * dim, dim, dtype=np.int32))
    emb = pa.ListArray.from_arrays(offsets, pa.array(vec.reshape(-1)))
    pq.write_table(pa.table({"vec_id": ids, "embedding": emb,
                             "label": pa.array(label.astype(np.int32))}),
                   os.path.join(out_dir, "embeddings.parquet"))
    pq.write_table(pa.table({
        "doc_id": ids,
        "text": pa.array(texts),
        "lang": pa.array([LANGS[int(x)] for x in rng.integers(0, len(LANGS), n)]),
        "source": pa.array([f"src{int(x)}" for x in rng.integers(0, 5, n)]),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    }), os.path.join(out_dir, "documents.parquet"))
    return vec


def request_stream(seed, n_products, n_requests=256, questions=3, final_k=10):
    """The client's requests: list of (vec_id, query_text, [(rank, q)...])."""
    rng = np.random.default_rng([seed, 2])
    out = []
    for _ in range(n_requests):
        vec_id = int(rng.integers(0, n_products))
        budget = int(rng.integers(5, 80)) * 5
        words = " ".join(WORDS[int(j)] for j in rng.integers(0, len(WORDS), 2))
        text = f"{ADJECTIVES[int(rng.integers(0, len(ADJECTIVES)))]} {words} under ${budget}"
        qs = []
        for _ in range(questions):
            tmpl = QUESTIONS[int(rng.integers(0, len(QUESTIONS)))]
            q = tmpl.format(t=TOPICS[int(rng.integers(0, len(TOPICS)))],
                            w=WORDS[int(rng.integers(0, len(WORDS)))],
                            v=WORDS[int(rng.integers(0, len(WORDS)))])
            qs.append((int(rng.integers(1, final_k + 1)), q))
        out.append((vec_id, text, qs))
    return out


def write_stream(stream, vectors, path):
    """Tab-separated stream file the harness reads: an R line per request
    (with its query vector, exact float32 values) and an A line per
    question."""
    with open(path, "w") as f:
        for i, (vec_id, text, qs) in enumerate(stream):
            vec = ",".join(repr(float(x)) for x in vectors[vec_id])
            f.write(f"R\t{i}\t{vec_id}\t{text}\t{vec}\n")
            for rank, q in qs:
                f.write(f"A\t{i}\t{rank}\t{q}\n")
