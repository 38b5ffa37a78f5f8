"""Position-netting core (W3) and the PnL replay spec fold (W2).

Pure Python. apply_fill is the netting step every PnL fold calls: the
engine's one emission loop (operators/pnl.py::fold_hub, which the batch
folds and both streaming state APIs run), the hybrid fold's
per-account trade pass, and the property tests. HubFold, emit_row and
replay are the executable spec — a second, dict-per-row implementation of
the emission loop that the differential tests (tests/test_pnl.py) and the
stream fuzzer's TTL oracle (tools/stream_fuzz.py::_pnl_ttl_spec) compare
the engine against; no engine path runs them. Semantics follow reference
PnlAndExposureJob.java:106-144 exactly:

- apply_fill: the netting branches (same-direction average-in vs
  opposite-direction close/flip, :113-132)
- replay: the two-input co-process — on trade emit one PnL row for that
  account (falling back to the trade's own price when no tick has been seen,
  :130); on price tick update last price and emit one row for EVERY account
  already seen on that hub (:134-137 fan-out)

Determinism refinement (SURVEY.md §7.3): the reference processes records in
nondeterministic arrival order (no watermarks); this engine defines the total
order (ts, kind trade<price, trade_id) and applies it identically everywhere.
"""

from __future__ import annotations

from dataclasses import dataclass

TRADE = 0  # kind tags: trades sort before prices at equal ts
PRICE = 1


def apply_fill(pos_mw: int, avg: float, realized: float,
               signed_qty: int, px: float) -> tuple[int, float, float]:
    """One trade against one position; returns (pos_mw, avg, realized).

    signed_qty = +mw for BUY, -mw for SELL (reference :116).
    """
    if pos_mw == 0 or (pos_mw > 0) == (signed_qty > 0):
        # same direction or flat: average in (reference :117-120)
        new_pos = pos_mw + signed_qty
        new_avg = 0.0 if new_pos == 0 else \
            (abs(pos_mw) * avg + abs(signed_qty) * px) / abs(new_pos)
        return new_pos, new_avg, realized
    # opposite direction: close up to `closing`, maybe flip (reference :121-128)
    closing = min(abs(pos_mw), abs(signed_qty))
    realized = realized + closing * ((px - avg) if pos_mw > 0 else (avg - px))
    residual = pos_mw + signed_qty
    if residual == 0:
        return 0, 0.0, realized
    if (residual > 0) == (pos_mw > 0):
        return residual, avg, realized      # partial close: avg unchanged
    return residual, px, realized           # flip: new basis = fill price


@dataclass
class _Acct:
    pos: int = 0
    avg: float = 0.0
    realized: float = 0.0


def emit_row(ts, account: str, hub: str, a: _Acct,
             last_px: float) -> dict:
    """PnL emission (reference :139-143)."""
    unrealized = a.pos * (last_px - a.avg)
    return {
        "ts": ts, "account": account, "hub": hub,
        "position_mw": a.pos, "avg_price_mwh": a.avg,
        "last_price_mwh": last_px, "realized_pnl": a.realized,
        "unrealized_pnl": unrealized, "total_pnl": a.realized + unrealized,
    }


class HubFold:
    """Incremental per-hub spec fold — the carried state of the reference's
    KeyedCoProcessFunction (lastPrice ValueState + per-account MapState,
    PnlAndExposureJob.java:107-110). Runs only as the spec: replay and the
    stream fuzzer's TTL oracle build on it; the engine folds with
    operators/pnl.py::fold_hub."""

    def __init__(self, last_price: float | None = None,
                 accounts: dict[str, tuple[int, float, float]] | None = None):
        self.last_price = last_price
        self.accounts: dict[str, _Acct] = {
            k: _Acct(*v) for k, v in (accounts or {}).items()}

    def process(self, r: dict) -> list[dict]:
        hub = r["hub"]
        if r["kind"] == TRADE:
            a = self.accounts.setdefault(r["account"], _Acct())
            signed = r["mw"] if r["side"].upper() == "BUY" else -r["mw"]
            a.pos, a.avg, a.realized = apply_fill(a.pos, a.avg, a.realized,
                                                  signed, r["price_mwh"])
            # cold start: no tick yet -> trade's own price (reference :130)
            px = self.last_price if self.last_price is not None else r["price_mwh"]
            return [emit_row(r["ts"], r["account"], hub, a, px)]
        self.last_price = r["price_mwh"]
        # fan-out: one row per account seen on this hub (reference :134-137)
        return [emit_row(r["ts"], account, hub, a, self.last_price)
                for account, a in self.accounts.items()]

    def snapshot(self) -> tuple[float | None, dict[str, tuple[int, float, float]]]:
        return self.last_price, {k: (a.pos, a.avg, a.realized)
                                 for k, a in self.accounts.items()}


def replay(records: list[dict]) -> list[dict]:
    """Spec fold over ONE hub's records, each a dict with keys
    kind (TRADE/PRICE), ts, hub, and for trades: trade_id, account, side,
    mw, price_mwh; for prices: price_mwh. Records must already be in the
    documented total order. Returns positions_pnl rows."""
    fold = HubFold()
    out: list[dict] = []
    for r in records:
        out.extend(fold.process(r))
    return out


def sort_key(r: dict):
    return (r["ts"], r["kind"], r.get("trade_id", 0))
