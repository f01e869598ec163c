"""Seeded input generators. The same seed gives byte-identical files.

cli_index:   manifest.txt + N text files in the reference's input format
             (Zipf-distributed words, ~10 tokens a line, one file with a
             quarter of the bytes, tokens with capitals, punctuation and
             digit suffixes so normalisation does real work).
documents:   documents.parquet with the fixture `documents` schema
             (doc_id, text, lang, source, n_chars), with fixed shares of
             exact copies, near copies (a few tokens replaced) and unique
             documents. Copies always copy a `train` document (the
             md5(doc_id) split key of the program), so every test-split
             copy is a dup of the base corpus.
"""
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))
PUNCT = list(",.;:!?)(\"'-")
STOP = ["the", "a", "of", "and", "is", "to", "in"]
LANGS = ["de", "en", "es", "fr", "zh"]


def vocabulary(rng, n, min_len=2, max_len=11):
    """n distinct lowercase words, generated from the seed."""
    words, seen = [], set(STOP)
    words.extend(STOP)
    while len(words) < n:
        k = n - len(words)
        lens = rng.integers(min_len, max_len + 1, size=2 * k)
        chars = rng.integers(0, 26, size=(2 * k, max_len))
        for ln, row in zip(lens, chars):
            w = "".join(LETTERS[row[:ln]])
            if w not in seen:
                seen.add(w)
                words.append(w)
                if len(words) == n:
                    break
    return words


def zipf_sampler(rng, n, s):
    cdf = np.cumsum(1.0 / np.arange(1, n + 1) ** s)
    cdf /= cdf[-1]
    return lambda size: np.minimum(np.searchsorted(cdf, rng.random(size)), n - 1)


def digest(paths):
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(os.path.basename(p).encode())
        with open(p, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def cli_corpus(out, seed, total_bytes, n_files=32, vocab_size=50000, zipf=1.1,
               tokens_per_line=10):
    rng = np.random.default_rng([seed, 1])
    vocab = np.array(vocabulary(rng, vocab_size), dtype=object)
    sample = zipf_sampler(rng, vocab_size, zipf)
    avg = sum(len(w) + 1 for w in vocab[sample(20000)]) / 20000.0
    n_tok = int(total_bytes / avg)
    toks = vocab[sample(n_tok)].copy()
    # Decorations the reference's normaliser must undo (delete
    # non-letters, lowercase); a few tokens normalise to nothing.
    u = rng.random(n_tok)
    for i in np.nonzero(u < 0.08)[0]:
        toks[i] = toks[i].capitalize()
    for i in np.nonzero((u >= 0.08) & (u < 0.12))[0]:
        toks[i] = toks[i].upper()
    for i in np.nonzero((u >= 0.12) & (u < 0.18))[0]:
        toks[i] = toks[i] + PUNCT[i % len(PUNCT)]
    for i in np.nonzero((u >= 0.18) & (u < 0.21))[0]:
        toks[i] = toks[i] + str(i % 1000)
    for i in np.nonzero((u >= 0.21) & (u < 0.22))[0]:
        toks[i] = toks[i] + "-" + toks[i - 1].lower()
    for i in np.nonzero((u >= 0.22) & (u < 0.225))[0]:
        toks[i] = str(i % 97) + PUNCT[i % len(PUNCT)]
    # One file holds a quarter of the bytes; the rest share the remainder
    # with lognormal spread.
    w = rng.lognormal(0.0, 0.6, n_files - 1)
    shares = np.concatenate([[0.25], 0.75 * w / w.sum()])
    big = int(rng.integers(0, n_files))
    shares[[0, big]] = shares[[big, 0]]
    lens = np.fromiter((len(t) + 1 for t in toks), dtype=np.int64, count=n_tok)
    cuts = np.searchsorted(np.cumsum(lens), np.cumsum(shares)[:-1] * lens.sum())
    os.makedirs(out, exist_ok=True)
    names, start = [], 0
    for f, end in enumerate(list(cuts) + [n_tok]):
        part = toks[start:end]
        start = end
        per_line = rng.poisson(tokens_per_line - 1, size=len(part) // 4 + 2) + 1
        bounds = np.cumsum(per_line)
        bounds = bounds[bounds < len(part)]
        lines = [" ".join(x) for x in np.split(part, bounds)]
        name = f"file_{f + 1:02d}.txt"
        with open(os.path.join(out, name), "w") as fh:
            fh.write("\n".join(lines) + "\n")
        names.append(name)
    with open(os.path.join(out, "manifest.txt"), "w") as fh:
        fh.write(f"{len(names)}\n" + "".join(n + "\n" for n in names))
    files = [os.path.join(out, n) for n in names]
    return {
        "digest": digest(files + [os.path.join(out, "manifest.txt")]),
        "files": len(names),
        "text_bytes": int(sum(os.path.getsize(p) for p in files)),
        "largest_file_share": round(max(os.path.getsize(p) for p in files)
                                    / sum(os.path.getsize(p) for p in files), 4),
        "tokens": n_tok,
        "vocabulary": vocab_size,
        "zipf": zipf,
        "tokens_per_line": tokens_per_line,
    }


def is_train(doc_id):
    return int(hashlib.md5(str(doc_id).encode()).hexdigest()[31], 16) < 13


def shape(doc_id):
    """Seed-independent shape of a document: token count and whether it
    is repetitive or carries a boilerplate paragraph. The seed picks the
    words and the copy roles, so every seed gives a table (and a test
    split) of nearly the same size."""
    h = int(hashlib.md5(f"shape-{doc_id}".encode()).hexdigest(), 16)
    n = 4 + (h >> 8) % 11 if h % 100 < 5 else 20 + (h >> 8) % 140
    return n, (h >> 20) % 100 < 4, (h >> 28) % 100 < 5


def documents(out, seed, n_docs, exact_share, near_share, vocab_size=4000, zipf=1.05):
    rng = np.random.default_rng([seed, 2])
    vocab = np.array(vocabulary(rng, vocab_size), dtype=object)
    sample = zipf_sampler(rng, vocab_size, zipf)
    boiler = [" ".join(vocab[sample(8)]) for _ in range(12)]
    texts, roles, train_by_shape = [], [], {}
    for doc_id in range(n_docs):
        n, repetitive, boilerplate = shape(doc_id)
        # A copy's source is an earlier train document of the same shape.
        same = train_by_shape.get((n, repetitive, boilerplate), [])
        u = rng.random()
        if same and u < exact_share:
            texts.append(texts[same[int(rng.integers(0, len(same)))]])
            roles.append("exact")
        elif same and u < exact_share + near_share:
            # Replace whole words only: a token spanning a line break
            # keeps the break, so the copy has as many tokens as its source.
            src = texts[same[int(rng.integers(0, len(same)))]].split(" ")
            for _ in range(int(rng.integers(1, 3))):
                j = int(rng.integers(0, len(src)))
                src[j] = "\n".join(src[j].split("\n")[:-1] + [vocab[sample(1)[0]]])
            texts.append(" ".join(src))
            roles.append("near")
        else:
            toks = list(vocab[sample(n)])
            if repetitive:  # one bigram dominates
                toks = toks[: n - 2 * (n // 3)] + list(vocab[sample(2)]) * (n // 3)
            lines = [" ".join(x) for x in np.array_split(np.array(toks, dtype=object),
                                                        int(rng.integers(1, 4)))]
            if boilerplate:  # a paragraph shared across documents
                lines.append(boiler[int(rng.integers(0, len(boiler)))])
            texts.append("\n".join(l for l in lines if l))
            roles.append("unique")
        if is_train(doc_id):
            train_by_shape.setdefault((n, repetitive, boilerplate), []).append(doc_id)
    lang = [LANGS[i] for i in rng.choice(len(LANGS), n_docs, p=[0.15, 0.45, 0.15, 0.15, 0.1])]
    source = [f"src{i}" for i in rng.integers(0, 20, n_docs)]
    table = pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(lang, pa.string()),
        "source": pa.array(source, pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    os.makedirs(out, exist_ok=True)
    path = os.path.join(out, "documents.parquet")
    pq.write_table(table, path)
    text_bytes = [len(t.encode()) for t in texts]
    train = [is_train(i) for i in range(n_docs)]
    test_roles = [r for r, t in zip(roles, train) if not t]
    return {
        "digest": digest([path]),
        "docs": n_docs,
        "text_bytes": int(sum(text_bytes)),
        "train_text_bytes": int(sum(b for b, t in zip(text_bytes, train) if t)),
        "test_text_bytes": int(sum(b for b, t in zip(text_bytes, train) if not t)),
        "test_docs": len(test_roles),
        "shares": {k: round(roles.count(k) / n_docs, 4) for k in ("exact", "near", "unique")},
        "test_shares": {k: round(test_roles.count(k) / max(1, len(test_roles)), 4)
                        for k in ("exact", "near", "unique")},
        "vocabulary": vocab_size,
        "zipf": zipf,
    }


def head(src_dir, out, n):
    """The first n documents of a generated table, as its own input."""
    os.makedirs(out, exist_ok=True)
    path = os.path.join(out, "documents.parquet")
    pq.write_table(pq.read_table(os.path.join(src_dir, "documents.parquet")).slice(0, n), path)
    return {"digest": digest([path]), "docs": n}
