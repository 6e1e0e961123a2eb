"""Seeded input generators for the graft benchmark workloads.

Each generator takes only a seed and returns {table name: parquet bytes}
in TESTDATA's schema (`events`, `documents`). The program
under test receives nothing but these files. The same seed gives
byte-identical files; `run.py` checks that on every run.

The fixed properties of each workload's inputs (sizes, skew, duplicate
shares, rates) are the module-level constants below; `PROPERTIES`
collects them for the report and the README.
"""
import io

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---- wallet_rebuild: transfers → balances → market data → profits → whale
WALLET_EVENTS = 24_000
WALLET_WALLETS = 4_000
WALLET_ZIPF_A = 1.3            # wallet activity skew
WALLET_ASSETS = 8
WALLET_DAYS = 40
WALLET_GAP_SHARE = 0.15        # (asset, day) cells with no event at all
WALLET_DIP_SHARE = 0.03        # (asset, day) cells whose prices dip to 10 %
WALLET_NEG_SHARE = 0.08        # wallets whose transfers are mostly outflows

# ---- stream_admit: documents in arrival order
STREAM_DOCS = 900
STREAM_EXACT_DUP_SHARE = 0.10  # docs that are a byte copy of another doc
STREAM_NEAR_DUP_SHARE = 0.15   # docs that sit in a near-dup chain
STREAM_CHAIN_DIAMETER = 3      # edits along one near-dup chain
STREAM_LANG_MIX = {"en": 0.5, "de": 0.2, "fr": 0.15, "es": 0.15}
STREAM_SOURCES = ["src0", "src1", "src2", "src3"]
# StreamAdmit's Backlog: the warm-up drains rows 0..149, which are also
# the drift reference; each timed run drains the next 150 rows
STREAM_BACKLOG_ROWS = 150
STREAM_DRIFT_SOURCE = "src3"   # this feed turns alien ...
STREAM_DRIFT_FROM = STREAM_BACKLOG_ROWS  # ... from this row on

_STOP = ["the", "a", "an", "and", "or", "of", "to", "in", "is", "it"]
_LANG_WORDS = {
    "en": ["data", "table", "stream", "query", "merge", "window", "batch",
           "value", "order", "filter", "column", "sorted", "spark", "vector"],
    "de": ["daten", "tabelle", "strom", "abfrage", "fenster", "wert",
           "reihe", "spalte", "filter", "schnell", "langsam", "gross"],
    "fr": ["donnees", "tableau", "flux", "requete", "fenetre", "valeur",
           "ordre", "colonne", "filtre", "rapide", "lent", "grand"],
    "es": ["datos", "tabla", "flujo", "consulta", "ventana", "valor",
           "orden", "columna", "filtro", "rapido", "lento", "grande"],
}
_ALIEN = ["zyx", "qwv", "kjhq", "vvxz", "qqpl", "zzkt", "xqjv", "wpkz"]


def _parquet(table: pa.Table) -> bytes:
    buf = io.BytesIO()
    pq.write_table(table, buf, compression="snappy", row_group_size=1 << 20)
    return buf.getvalue()


def _vocab(rng, lang, n=120):
    """A language's word list: its marker words plus seeded
    pseudo-words of 3 to 9 letters."""
    words = list(_LANG_WORDS[lang])
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    while len(words) < n:
        words.append("".join(rng.choice(letters, rng.integers(3, 10))))
    return words


def _sentence(rng, vocab, n_words):
    stop = rng.choice(_STOP, n_words // 4 + 2)
    body = rng.choice(vocab, n_words - len(stop))
    words = np.concatenate([stop, body])
    rng.shuffle(words)
    return " ".join(words)


def _edit(rng, text, vocab, n_edits):
    words = text.split(" ")
    for _ in range(n_edits):
        words[rng.integers(len(words))] = vocab[rng.integers(len(vocab))]
    return " ".join(words)


def _documents(rng, n_docs, exact_share, near_share, diameter, sources):
    langs = list(STREAM_LANG_MIX)
    probs = np.array([STREAM_LANG_MIX[l] for l in langs])
    vocabs = {l: _vocab(rng, l) for l in langs}
    texts, doc_langs, doc_sources = [], [], []
    n_exact = int(n_docs * exact_share)
    n_near = int(n_docs * near_share)
    n_base = n_docs - n_exact - n_near
    for _ in range(n_base):
        lang = langs[rng.choice(len(langs), p=probs)]
        texts.append(_sentence(rng, vocabs[lang], int(rng.integers(60, 160))))
        doc_langs.append(lang)
        doc_sources.append(sources[rng.integers(len(sources))])
    # near-dup chains: each link is one or two word edits off the last,
    # so a chain of `diameter` links is one cluster whose ends differ
    # by up to 2·diameter words
    made = 0
    while made < n_near:
        root = int(rng.integers(n_base))
        prev, lang = texts[root], doc_langs[root]
        for _ in range(min(diameter, n_near - made)):
            prev = _edit(rng, prev, vocabs[lang], int(rng.integers(1, 3)))
            texts.append(prev)
            doc_langs.append(lang)
            doc_sources.append(doc_sources[root])
            made += 1
    for _ in range(n_exact):
        src = int(rng.integers(len(texts)))
        texts.append(texts[src])
        doc_langs.append(doc_langs[src])
        doc_sources.append(doc_sources[src])
    order = rng.permutation(n_docs)
    texts = [texts[i] for i in order]
    return texts, [doc_langs[i] for i in order], [doc_sources[i] for i in order]


def _documents_table(texts, langs, sources):
    n = len(texts)
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array(sources, pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def wallet_rebuild(seed):
    rng = np.random.default_rng([seed, 1])
    n = WALLET_EVENTS
    assets = np.array([f"coin{i:02d}" for i in range(WALLET_ASSETS)])
    # Zipf-skewed wallet activity, folded into the wallet range
    wallet = (rng.zipf(WALLET_ZIPF_A, n) - 1) % WALLET_WALLETS
    asset_ix = rng.integers(0, WALLET_ASSETS, n)
    day = rng.integers(0, WALLET_DAYS, n)
    # price gaps: some (asset, day) cells are emptied by moving their
    # events to the asset's previous open day
    closed = rng.random((WALLET_ASSETS, WALLET_DAYS)) < WALLET_GAP_SHARE
    closed[:, 0] = False
    for _ in range(WALLET_DAYS):
        hit = closed[asset_ix, day]
        if not hit.any():
            break
        day = np.where(hit, np.maximum(day - 1, 0), day)
    base = np.exp(rng.uniform(0.0, 6.0, WALLET_ASSETS))
    walk = np.exp(np.cumsum(rng.normal(0, 0.03, (WALLET_ASSETS, WALLET_DAYS)), axis=1))
    dip = rng.random((WALLET_ASSETS, WALLET_DAYS)) < WALLET_DIP_SHARE
    price = base[:, None] * walk * np.where(dip, 0.1, 1.0)
    value = np.round(price[asset_ix, day] * rng.lognormal(0.0, 0.25, n), 2)
    micros = day.astype(np.int64) * 86_400_000_000 + rng.integers(0, 86_400_000_000, n)
    order = np.argsort(micros, kind="stable")
    wallet, asset_ix, value, micros = wallet[order], asset_ix[order], value[order], micros[order]
    # Tables.signedValue makes event_id % 3 == 0 an outflow: the
    # negative-balance cohort draws mostly such ids
    neg = rng.random(WALLET_WALLETS) < WALLET_NEG_SHARE
    resid = np.where(neg[wallet] & (rng.random(n) < 0.8), 0, rng.integers(0, 3, n))
    event_id = np.arange(n, dtype=np.int64) * 3 + resid
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    table = pa.table({
        "event_id": pa.array(event_id, pa.int64()),
        "ts": pa.array(micros + t0, pa.timestamp("us")),
        "user_id": pa.array(wallet.astype(np.int64), pa.int64()),
        "event_type": pa.array(assets[asset_ix], pa.string()),
        "value": pa.array(value, pa.float64()),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], pa.string()),
    })
    return {"events": _parquet(table)}


def stream_admit(seed):
    """Documents in arrival order. From `STREAM_DRIFT_FROM` on, the feed
    `STREAM_DRIFT_SOURCE` turns alien, so the drift gate must
    quarantine."""
    rng = np.random.default_rng([seed, 3])
    texts, langs, sources = _documents(
        rng, STREAM_DOCS, STREAM_EXACT_DUP_SHARE, STREAM_NEAR_DUP_SHARE,
        STREAM_CHAIN_DIAMETER, STREAM_SOURCES)
    for i in range(STREAM_DRIFT_FROM, STREAM_DOCS):
        if sources[i] == STREAM_DRIFT_SOURCE:
            texts[i] = _sentence(rng, _ALIEN, int(rng.integers(60, 120)))
    return {"documents": _parquet(_documents_table(texts, langs, sources))}


GENERATORS = {
    "wallet_rebuild": wallet_rebuild,
    "stream_admit": stream_admit,
}

PROPERTIES = {
    "wallet_rebuild": {
        "loop": "closed, 1 client", "events": WALLET_EVENTS,
        "wallets": WALLET_WALLETS, "assets": WALLET_ASSETS, "days": WALLET_DAYS,
        "wallet_zipf_a": WALLET_ZIPF_A, "gap_share": WALLET_GAP_SHARE,
        "dip_share": WALLET_DIP_SHARE, "negative_wallet_share": WALLET_NEG_SHARE,
        "pre_price_days": 7},
    "stream_admit": {
        "loop": "closed, 1 client: drains of a fixed backlog", "documents": STREAM_DOCS,
        "drain_backlog_rows": STREAM_BACKLOG_ROWS,
        "drift_source": STREAM_DRIFT_SOURCE, "drift_from_row": STREAM_DRIFT_FROM,
        "exact_dup_share": STREAM_EXACT_DUP_SHARE,
        "near_dup_share": STREAM_NEAR_DUP_SHARE,
        "near_dup_chain_diameter": STREAM_CHAIN_DIAMETER,
        "lang_mix": STREAM_LANG_MIX, "sources": len(STREAM_SOURCES)},
}
