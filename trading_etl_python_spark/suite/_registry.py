"""The query-registration decorator shared by the suite modules."""

from __future__ import annotations


def registrar(queries: dict, oracles: dict, tiers: dict):
    """Return ``q(name, oracle=None, tier="production")``, a decorator
    that registers a builder into the given module dicts.

    ``tier`` encodes the scale posture the docs previously carried only
    in prose (r8 VERDICT #4): "production" = deployable plan shape at
    100 TB (bounded pair/candidate space); "measurement" = exact/
    unbounded twin kept to verify or score a production path (expected
    superlinear on adversarial corpora); "demo" = deliberately
    simplified pedagogical form.  tools/sweep.py --compare flags only
    production-tier superlinearity; lint requires every entry to carry a
    valid tier."""

    def q(name: str, oracle: str | None = None, tier: str = "production"):
        def deco(fn):
            queries[name] = fn
            if oracle is not None:
                oracles[name] = oracle
            tiers[name] = tier
            return fn

        return deco

    return q
