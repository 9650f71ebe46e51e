"""Ingest output check: row counts against the synthetic chain's closed
form. (Query results are checked by the project's oracle gate,
`tools/check.py`; see run.py.)"""

SINK_TABLES = ('block', 'transaction', 'log', 'trace')


def tx_count(lo, hi):
    """Sum over blocks b in [lo, hi] of (b % 3 + 1): the synthetic chain's
    transactions per block."""
    def upto(n):  # blocks 0 .. n-1
        full, rest = divmod(n, 3)
        return full * 6 + sum(b + 1 for b in range(rest))
    return upto(hi + 1) - upto(lo)


def expected_counts(lo, hi):
    """Rows per sink table for blocks [lo, hi]: one block row per block, the
    chain's transactions, two logs per transaction, and one trace per block
    plus one per transaction."""
    blocks = hi - lo + 1
    txs = tx_count(lo, hi)
    return {'block': blocks, 'transaction': txs, 'log': 2 * txs,
            'trace': blocks + txs}


def ingest_error(rec, lo, hi):
    """Why an ingest call's report is wrong for the range [lo, hi] it had to
    cover, or None when it is right."""
    if 'error' in rec:
        return rec['error']
    if (rec.get('start'), rec.get('end')) != (lo, hi):
        return f"ingested [{rec.get('start')}, {rec.get('end')}], expected [{lo}, {hi}]"
    want = expected_counts(lo, hi)
    got = {t: rec.get('counts', {}).get(t) for t in SINK_TABLES}
    if got != want:
        return f'row counts {got} != {want}'
    return None
