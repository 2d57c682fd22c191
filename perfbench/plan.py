"""Seeded workload inputs: the analyst query sample and the what-if moves.

Only these depend on the seed. The data tables, the news chain and the
curation chain are fixed, so a seed changes nothing on `curation_graph`
(`run.py` prints that).
"""
import random
import statistics

# Dashboard slider positions (SignalConfig and BacktestConfig fields).
TAUS = (0.05, 0.1, 0.15, 0.2, 0.3)
MIN_NEWS = (2, 3, 5, 8)
HOLD_DAYS = (3, 5, 10, 24)
STOP_LOSS = (-0.03, -0.05, -0.08)
TAKE_PROFIT = (0.1, 0.2, 0.3)


def signals_key(tau, min_news):
    return f"whatif.signals tau={tau} min_news={min_news}"


def metrics_key(hold_days, stop_loss, take_profit):
    return f"whatif.metrics hold_days={hold_days} stop_loss={stop_loss} take_profit={take_profit}"


def move(tau, min_news, hold_days, stop_loss, take_profit):
    return {"tau": tau, "min_news": min_news, "hold_days": hold_days,
            "stop_loss": stop_loss, "take_profit": take_profit,
            "signals_key": signals_key(tau, min_news),
            "metrics_key": metrics_key(hold_days, stop_loss, take_profit)}


def whatif_moves(seed, n):
    """n slider moves, each a uniform draw over the slider grid."""
    r = random.Random(f"whatif:{seed}")
    return [move(r.choice(TAUS), r.choice(MIN_NEWS), r.choice(HOLD_DAYS),
                 r.choice(STOP_LOSS), r.choice(TAKE_PROFIT)) for _ in range(n)]


def all_moves():
    """Every signals setting once and every backtest setting once (the
    digests `expected.json` must hold)."""
    sig = [(t, m) for t in TAUS for m in MIN_NEWS]
    bt = [(h, s, p) for h in HOLD_DAYS for s in STOP_LOSS for p in TAKE_PROFIT]
    return [move(*sig[i % len(sig)], *bt[i % len(bt)])
            for i in range(max(len(sig), len(bt)))]


def analyst_pool(catalog):
    """Every batch catalog entry: all but the EventStream rigs."""
    return sorted(c["name"] for c in catalog if not c["stream_rig"])


def analyst_sample(catalog, costs, seed, n, tolerance=0.02):
    """A seeded sample of n pool queries in seeded order. The pool,
    ranked by recorded cost (costs.json, which re-recording only
    extends), is cut into n strata of nearly equal size and one query is
    drawn from each; draws are repeated until the sample's recorded cost is within `tolerance`
    of the strata's expected total. Every seed thus gets about the same
    mix and amount of work, and seeds can be compared."""
    pool = analyst_pool(catalog)
    med = statistics.median(costs.values()) if costs else 0.0
    cost = lambda q: costs.get(q, med)
    ranked = sorted(pool, key=lambda q: (cost(q), q))
    n = min(n, len(ranked))
    strata = [ranked[i * len(ranked) // n:(i + 1) * len(ranked) // n] for i in range(n)]
    target = sum(sum(map(cost, s)) / len(s) for s in strata)
    r = random.Random(f"analyst:{seed}")
    best = None
    for _ in range(10000):
        sample = [r.choice(s) for s in strata]
        miss = abs(sum(map(cost, sample)) - target)
        if best is None or miss < best[0]:
            best = (miss, sample)
        if miss <= tolerance * target:
            break
    sample = best[1]
    r.shuffle(sample)
    return sample
