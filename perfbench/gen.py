"""Seeded input generators for the graft benchmark.

Two families, both written under a run's work directory:

* ``documents(dir, seed, n)`` writes the ``documents`` table as one parquet
  file, with the schema and text shape of the sf0.1 test table.
* ``glue(dir, seed, ...)`` writes GLUE-shaped ``{SST-2,QQP,QNLI}/{train,dev}.tsv``
  files covering every cleaning branch of FIXTURES.md A.1-A.3.

The same seed always yields byte-identical files.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The shape of the sf0.1 `documents` test table of TESTDATA.md (5000 rows),
# measured with DuckDB; see README.md "Inputs":
# * 30 words, drawn uniformly; a document has 10 to 99 of them;
# * 5% of documents are another document plus the word "dup" (near
#   duplicates; the other document may itself be one, giving "dup dup");
# * exact duplicates arise only from two near duplicates of one document:
#   8 pairs in 5000, an exact-duplicate share of 0.16%;
# * lang: en 41%, zh 15%, es 15%, fr 15%, de 14%; source = src{doc_id % 20};
#   n_chars = length of text.
DOC_WORDS = ("a agg batch big column customer data fast filter group hash join "
             "key line merge order part query row scan slow small sort spark "
             "stream table the value vector window").split()
MIN_WORDS, MAX_WORDS = 10, 99
NEAR_DUP_SHARE = 0.05
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]


def documents(out, seed, n_docs):
    """Write documents.parquet with ``n_docs`` rows shaped like the
    sf0.1 test table; returns {"documents": rows} plus the exact and near
    duplicate shares of the written texts."""
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    words = np.array(DOC_WORDS)
    texts = [" ".join(words[rng.integers(0, len(words), n)])
             for n in rng.integers(MIN_WORDS, MAX_WORDS + 1, n_docs)]
    for i in rng.permutation(n_docs)[:round(n_docs * NEAR_DUP_SHARE)]:
        j = int(rng.integers(0, n_docs - 1))  # any document but i
        texts[i] = texts[j + (j >= i)] + " dup"
    pq.write_table(pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}),
        os.path.join(out, "documents.parquet"))
    return {"documents": n_docs,
            "exact_dup_share": round(1.0 - len(set(texts)) / n_docs, 4),
            "near_dup_share": round(
                sum(t.endswith(" dup") for t in texts) / n_docs, 4)}


# ----------------------------------------------------------------- GLUE

POS = ("excellent amazing delightful superb stellar charming wonderful great "
       "brilliant moving").split()
NEG = ("tedious dreadful terrible abysmal lousy boring awful horrid dull "
       "clumsy").split()
NEUTRAL = ("the film movie was plot actor scene story script cast director "
           "music ending screen camera moment audience character").split()
TOPICS = ("python java spark weather travel money health music cooking "
          "football history science").split()
QWORDS = "how what why which where when who".split()


def _sentence(rng, label, n, signal):
    words = list(rng.choice(NEUTRAL, n))
    for _ in range(3):
        right = rng.random() < signal
        pool = POS if (label == 1) == right else NEG
        words.insert(int(rng.integers(0, len(words) + 1)),
                     pool[int(rng.integers(0, len(pool)))])
    return " ".join(words)


def _sst2(rng, n, edge):
    lines = ["sentence\tlabel"]
    for _ in range(n):
        y = int(rng.random() < 0.55)
        lines.append(f"{_sentence(rng, y, int(rng.integers(4, 12)), 0.8)}\t{y}")
    if edge:
        lines += ["\t1",                              # null sentence: dropna
                  "the a an of\t0",                   # stopwords only
                  "!!! ... ,,, ???\t1",               # punctuation only
                  lines[1]]                           # duplicate sentence
    return lines


def _question(rng, topic, n):
    return " ".join([QWORDS[int(rng.integers(0, len(QWORDS)))], "is"]
                    + list(rng.choice(TOPICS + NEUTRAL, n)) + [topic])


def _qqp(rng, n, base_id, edge):
    lines = ["id\tqid1\tqid2\tquestion1\tquestion2\tis_duplicate"]
    for i in range(n):
        t = int(rng.integers(0, len(TOPICS)))
        # duplicate rate depends on the topic (0.1 .. 0.7, ~37% overall),
        # and paraphrases mostly carry a rewording marker: a learnable
        # signal that survives stop-word removal
        dup = rng.random() < 0.1 + 0.6 * t / (len(TOPICS) - 1)
        q1 = _question(rng, TOPICS[t], int(rng.integers(3, 9)))
        q2 = _question(rng, TOPICS[t] if dup else
                       TOPICS[int(rng.integers(0, len(TOPICS)))],
                       int(rng.integers(3, 9)))
        if rng.random() < (0.7 if dup else 0.15):
            q2 += " reworded"
        if i % 50 == 7:             # embedded quotes, escaped by doubling
            q1 = f'"{q1} ""quoted"" words inside"'
        label = "1.0" if dup else "0.0"
        lines.append(f"{base_id + i}\tq{base_id + i}a\tq{base_id + i}b"
                     f"\t{q1}\t{q2}\t{label}")
    if edge:
        lines.append(f"{base_id + n}\tqna\tqnb\twhat is spark\t"
                     "what is spark same\t")            # null label
    return lines


def _qnli(rng, n, edge):
    lines = ["index\tquestion\tsentence\tlabel"]
    for i in range(n):
        y = int(rng.random() < 0.5)
        q = _sentence(rng, y, int(rng.integers(3, 8)), 0.75)
        s = _sentence(rng, y, int(rng.integers(5, 12)), 0.75)
        lines.append(f"{i}\t{q}\t{s}\t"
                     f"{'not_entailment' if y else 'entailment'}")
    if edge:
        lines += [f"{n}\tthe film was great\tthe film was great\t1",  # numeric
                  f"{n + 1}\tthe film was dull\tthe film was dull\t0",
                  f"{n + 2}\tgarbage row\tgarbage row\tn/a",  # garbage label
                  f"{n + 3}\t  padded question  \t  padded sentence  \t"
                  "entailment",                               # trim
                  f"{n + 4}\t\t\tnot_entailment",             # empty text
                  f"{n + 5}\ta\tb\tentailment"]               # tokens < 2
    return lines


def glue(out, seed, n_train, n_dev):
    """Write the three tasks' train/dev TSVs; returns {task.split: rows}."""
    rng = np.random.default_rng(seed)
    made = {
        ("sst2", "SST-2", "train"): _sst2(rng, n_train, True),
        ("sst2", "SST-2", "dev"): _sst2(rng, n_dev, False),
        ("qqp", "QQP", "train"): _qqp(rng, n_train, 0, True),
        ("qqp", "QQP", "dev"): _qqp(rng, n_dev, 10_000_000, False),
        ("qnli", "QNLI", "train"): _qnli(rng, n_train, True),
        ("qnli", "QNLI", "dev"): _qnli(rng, n_dev, False),
    }
    rows = {}
    for (task, folder, split), lines in made.items():
        path = os.path.join(out, folder, split + ".tsv")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8") as f:
            f.write("\n".join(lines) + "\n")
        rows[f"{task}.{split}"] = len(lines) - 1
    return rows
