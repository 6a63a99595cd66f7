"""Seeded input generator of the pipeline benchmark.

Every input the engine sees is made here from the workload seed; the
same seed gives byte-identical inputs. The generator also keeps what
the checks need to know about the inputs (the document corpus after each
batch, the planted near-duplicates, the changelog the document feed must
produce).
"""

import datetime as dt
import hashlib
import struct

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Sizes (see README.md, "Inputs").
ORDERS = 30_000             # dense o_orderkey 0..ORDERS-1: ~89 commit days
DOCS = 2_000                # base corpus of the document feed
DOC_BATCHES = 1             # micro-batches of the document feed
REVISIONS, DELETES, PLANTED, FRESH = 12, 6, 8, 4  # per document batch
VOCAB = 1_200

COMMIT_BASE = dt.datetime(1995, 1, 1, tzinfo=dt.timezone.utc)
DAY = 86_400

# MinHash layout constants of graft.ext.Dedup (NumHashes, BandSize,
# ShingleLen) and its Jaccard threshold num/den.
NUM_HASHES, BAND_SIZE, SHINGLE_LEN = 12, 3, 3
JACCARD_NUM, JACCARD_DEN = 3, 5


def _ts(days_from, n, rng, lo, hi):
    base = np.datetime64(days_from, "us")
    return base + (rng.integers(lo, hi, n) * 86_400_000_000).astype("timedelta64[us]")


def orders(rng, out, n):
    t = pa.table({
        "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(1, 15_001, n, dtype=np.int64)),
        "o_orderstatus": pa.array(rng.choice(["O", "F", "P"], n)),
        "o_totalprice": pa.array(np.round(rng.uniform(900.0, 450_000.0, n), 2)),
        "o_orderdate": pa.array(_ts("1992-01-01", n, rng, 0, 2_405)),
        "o_orderpriority": pa.array(rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n)),
    })
    pq.write_table(t, f"{out}/orders/part-0.parquet")
    return {"rows": n}


def shingles(text):
    toks = text.split(" ")
    return {" ".join(toks[i:i + SHINGLE_LEN]) for i in range(len(toks) - SHINGLE_LEN + 1)}


def signature(text):
    sig = [0xFFFFFFFF + 1] * NUM_HASHES
    for sh in shingles(text):
        for g in range(NUM_HASHES // 4):
            lanes = struct.unpack(">4I", hashlib.md5(f"{g}:{sh}".encode()).digest())
            for o, v in enumerate(lanes):
                if v < sig[g * 4 + o]:
                    sig[g * 4 + o] = v
    return sig


def _bucket(s, buckets=16):
    return int(hashlib.md5(s.encode()).hexdigest()[:4], 16) % buckets


def minhash_layout(corpus):
    """Rows of graft.ext.Dedup's serving layout (band rows, fingerprint
    registry) for `corpus`, computed here from the definitions."""
    bands, fps = [], []
    for doc, text in corpus.items():
        sig = signature(text)
        sigs = ["|".join("%08x" % v for v in sig[b:b + BAND_SIZE])
                for b in range(0, NUM_HASHES, BAND_SIZE)]
        for b, s in enumerate(sigs):
            bands.append((b, s, doc, _bucket(f"{b}#{s}")))
        fp = hashlib.md5("#".join(sigs).encode()).hexdigest()
        fps.append((fp, doc, int(fp[:4], 16) % 16))
    return {"bands": bands, "fps": fps}


def bm25_layout(corpus):
    """Rows of graft.ext.Retrieval's serving artifacts (postings with df,
    length registry, corpus stats) for `corpus`."""
    from collections import Counter
    tfs = {doc: Counter(" ".join(p) for p in zip(t.split(" "), t.split(" ")[1:]))
           for doc, t in corpus.items()}
    df = Counter(term for tf in tfs.values() for term in tf)
    postings = [(term, doc, n, df[term], _bucket(term))
                for doc, tf in tfs.items() for term, n in tf.items()]
    doclen = [(doc, sum(tf.values()), doc % 16) for doc, tf in tfs.items()]
    total = sum(d for _, d, _ in doclen)
    stats = [(len(doclen), total // len(doclen) if doclen else 0)]
    return {"postings": postings, "doclen": doclen, "stats": stats}


def share_band(a, b):
    return any(a[i:i + BAND_SIZE] == b[i:i + BAND_SIZE] for i in range(0, NUM_HASHES, BAND_SIZE))


def jaccard_ok(a, b):
    sa, sb = shingles(a), shingles(b)
    common = len(sa & sb)
    return common * JACCARD_DEN >= (len(sa) + len(sb) - common) * JACCARD_NUM


def documents(rng, out, docs, n_batches):
    """Base corpus plus `n_batches` feed files. Each batch holds revisions
    (about a third of a document's words replaced), deletes, fresh inserts
    and inserts planting a near-duplicate of a live document: one word
    replaced, redrawn until the pair shares a MinHash band, so the probe's
    banded route must find it. No document is touched twice in a batch."""
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    vocab = sorted({"".join(rng.choice(letters, rng.integers(4, 9))) for _ in range(VOCAB)})

    def text(n):
        return " ".join(rng.choice(vocab, n))

    corpus = {i: text(int(rng.integers(30, 61))) for i in range(docs)}
    pq.write_table(pa.table({
        "doc_id": pa.array(list(corpus), pa.int64()),
        "text": pa.array(list(corpus.values())),
        "lang": pa.array(["en"] * len(corpus)),
    }), f"{out}/docs/base/part-0.parquet")

    next_id = docs
    batches, expected = [], []
    feed_schema = pa.schema([
        ("start_lsn", pa.int64()), ("seqval", pa.int64()), ("operation", pa.int32()),
        ("update_mask", pa.int64()), ("commit_time", pa.timestamp("us", tz="UTC")),
        ("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string())])
    for b in range(n_batches):
        live = sorted(corpus)
        touched = rng.choice(live, REVISIONS + DELETES + PLANTED, replace=False).tolist()
        revise, delete = touched[:REVISIONS], touched[REVISIONS:REVISIONS + DELETES]
        origins = touched[REVISIONS + DELETES:]
        changes = []
        for d in revise:
            words = corpus[d].split(" ")
            for i in rng.choice(len(words), len(words) // 3, replace=False):
                words[i] = str(rng.choice(vocab))
            changes.append(("rev", d, corpus[d], " ".join(words)))
        for d in delete:
            changes.append(("del", d, corpus[d], None))
        planted = []
        for o in origins:
            words, sig = corpus[o].split(" "), signature(corpus[o])
            for _ in range(50):
                cand = list(words)
                cand[int(rng.integers(len(cand)))] = str(rng.choice(vocab))
                dup = " ".join(cand)
                if share_band(sig, signature(dup)) and jaccard_ok(corpus[o], dup):
                    break
            else:
                dup = corpus[o]
            changes.append(("ins", next_id, None, dup))
            planted.append([int(o), next_id])
            next_id += 1
        for _ in range(FRESH):
            changes.append(("ins", next_id, None, text(int(rng.integers(30, 61)))))
            next_id += 1
        order = rng.permutation(len(changes))
        rows = {k: [] for k in feed_schema.names}
        src = {"doc_id": [], "text": []}

        def emit(lsn, op, mask, doc, txt):
            rows["start_lsn"].append(lsn)
            rows["seqval"].append(0)
            rows["operation"].append(op)
            rows["update_mask"].append(mask)
            rows["commit_time"].append(COMMIT_BASE + dt.timedelta(seconds=lsn))
            rows["doc_id"].append(doc)
            rows["text"].append(txt)
            rows["lang"].append("en")

        for j, k in enumerate(order):
            kind, doc, old, new = changes[k]
            lsn = (b + 1) * DAY + 1_000 + j
            ct = (COMMIT_BASE + dt.timedelta(seconds=lsn)).strftime("%Y-%m-%d %H:%M:%S")
            if kind == "rev":
                emit(lsn, 3, 2, doc, old)
                emit(lsn, 4, 2, doc, new)
                expected.append((ct, str(doc), "text", old, new))
                corpus[doc] = new
            elif kind == "del":
                emit(lsn, 1, 7, doc, old)
                expected.append((ct, str(doc), None, "DELETED RECORD", None))
                del corpus[doc]
            else:
                emit(lsn, 2, 7, doc, new)
                expected.append((ct, str(doc), None, None, "NEW RECORD"))
                src["doc_id"].append(doc)
                src["text"].append(new)
                corpus[doc] = new
        name = f"batch_{b:03d}.parquet"
        pq.write_table(pa.table(rows, schema=feed_schema), f"{out}/docs/feed/{name}")
        pq.write_table(pa.table({"doc_id": pa.array(src["doc_id"], pa.int64()),
                                 "text": pa.array(src["text"])}), f"{out}/docs/src/{name}")
        batches.append({"planted": planted, "corpus": dict(corpus)})
    return {"batches": batches, "expected": expected}


def generate(workload, seed, out):
    """Writes the inputs of `workload` under `out`; returns what the checks
    need to know about them."""
    import os
    rng = np.random.default_rng(seed)
    if workload == "ingest-stream":
        os.makedirs(f"{out}/orders")
        return orders(rng, out, ORDERS)
    if workload == "index-maintain":
        for d in ("base", "feed", "src"):
            os.makedirs(f"{out}/docs/{d}")
        return documents(rng, out, DOCS, DOC_BATCHES)
    raise ValueError(f"unknown workload {workload}")
