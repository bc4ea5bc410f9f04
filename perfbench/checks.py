"""Output checks made apart from the program.

- Registry queries: the Spark result is compared with the query's
  registered DuckDB oracle run on the same files, as an order-insensitive
  multiset of canonical rows (``tools/check_oracle.py``'s
  ``canonical_multiset``, imported from the checkout root).
- Weekly DAG: each stage's parquet output, read back with pyarrow, is
  compared with a numpy/pandas computation over the generated input.

Every check is a function ``(output) -> list[str]`` of problems, empty when
the output is right. ``self_test`` feeds a check a deliberately corrupted
copy of a good output and reports whether it was rejected.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

EARTH_RADIUS_KM = 6371.0
HOME_STAY_DAYS = 27.0
RADIUS_KM = 1.0


# --- registry queries vs DuckDB oracles ----------------------------------------


def canonical(df: pd.DataFrame) -> tuple[tuple[str, ...], list[str]]:
    """(sorted column names, sorted canonical rows)."""
    # Imported here: ``tools`` lives at the checkout root, which is on
    # sys.path only once run.py has checked that it runs from there.
    from tools.check_oracle import canonical_multiset

    return tuple(sorted(df.columns)), canonical_multiset(df)


def oracle_canonicals(sf_dir: str, tables: tuple[str, ...], sqls: dict[str, str]) -> dict:
    """Run each oracle SQL with DuckDB over the parquet files in ``sf_dir``."""
    import duckdb

    con = duckdb.connect()
    try:
        for t in tables:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        return {name: canonical(con.sql(sql).df()) for name, sql in sqls.items()}
    finally:
        con.close()


def check_query(expected: tuple, got: pd.DataFrame) -> list[str]:
    cols, rows = canonical(got)
    if cols != expected[0]:
        return [f"columns {cols} != oracle {expected[0]}"]
    if len(rows) != len(expected[1]):
        return [f"{len(rows)} rows != oracle {len(expected[1])}"]
    if rows != expected[1]:
        diff = [(a, b) for a, b in zip(rows, expected[1]) if a != b][:2]
        return [f"values differ from oracle, first: {diff}"]
    return []


def corrupt_frame(df: pd.DataFrame) -> pd.DataFrame:
    """A copy with one cell changed (or one row added to an empty frame)."""
    bad = df.copy()
    if bad.empty:
        return pd.concat([bad, bad.reindex([0])])
    col = bad.columns[-1]
    v = bad.iat[0, bad.columns.get_loc(col)]
    if isinstance(v, (int, float, np.integer, np.floating)) and not pd.isna(v):
        bad[col] = bad[col].astype(object)
        bad.iat[0, bad.columns.get_loc(col)] = v + 1
    else:
        bad[col] = bad[col].astype(object)
        bad.iat[0, bad.columns.get_loc(col)] = f"{v}#corrupt"
    return bad


# --- weekly DAG vs numpy ------------------------------------------------------


def haversine_km(lat1, lon1, lat2, lon2):
    rlat1, rlat2 = np.radians(lat1), np.radians(lat2)
    dlat = np.radians(lat2 - lat1) / 2
    dlon = np.radians(lon2 - lon1) / 2
    a = np.sin(dlat) ** 2 + np.cos(rlat1) * np.cos(rlat2) * np.sin(dlon) ** 2
    return 2 * EARTH_RADIUS_KM * np.arcsin(np.sqrt(a))


class DagExpected:
    """The four datamarts computed from the generated lake with numpy and
    pandas only."""

    def __init__(self, lake: dict):
        ev = lake["events"]
        geo = lake["geo"].to_pandas()
        e = ev.column("event").flatten()
        names = ev.column("event").type
        f = {names.field(i).name: e[i].to_numpy(zero_copy_only=False) for i in range(len(e))}
        lat = ev.column("lat").to_numpy()
        lon = ev.column("lon").to_numpy()
        etype = ev.column("event_type").to_numpy(zero_copy_only=False)

        # geotag: haversine argmin over cities, ties broken by city id.
        d = haversine_km(lat[:, None], lon[:, None], geo.lat_c.to_numpy()[None, :],
                         geo.lon_c.to_numpy()[None, :])
        near = d <= d.min(axis=1, keepdims=True) + 1e-9
        order = np.argsort(geo.id.to_numpy(), kind="stable")
        first = order[np.argmax(near[:, order], axis=1)]
        city_id = geo.id.to_numpy()[first]
        city_name = geo.city.to_numpy()[first]
        self.geotag = pd.DataFrame(
            {"message_id": f["message_id"], "city_id": city_id.astype(np.int64)}
        ).sort_values("message_id", ignore_index=True)

        ts = pd.to_datetime(pd.Series(f["datetime"]), format="%Y-%m-%d %H:%M:%S")
        df = pd.DataFrame(
            {
                "user": f["message_from"].astype(np.int64),
                "ts": ts,
                "etype": etype,
                "city_id": city_id.astype(np.int64),
                "city": city_name,
                "lat": lat,
                "lon": lon,
                "sub_user": f["user"],
                "channel": f["subscription_channel"],
            }
        )
        timed = df[df.ts.notna()]
        msgs = timed[timed.etype == "message"].sort_values(["user", "ts"])

        # user_city: latest message city; home = latest run of > 27 days.
        rows = []
        for user, g in msgs.groupby("user", sort=True):
            cities = g.city.to_numpy()
            secs = g.ts.to_numpy().astype("datetime64[s]").astype(np.int64)
            new = np.r_[True, cities[1:] != cities[:-1]]
            starts = np.flatnonzero(new)
            ends = np.r_[starts[1:], len(cities)] - 1
            stays = (secs[ends] - secs[starts]) / 86400.0
            long = np.flatnonzero(stays > HOME_STAY_DAYS)
            rows.append(
                (
                    int(user),
                    cities[-1],
                    cities[starts[long[-1]]] if len(long) else None,
                    len(starts),
                    tuple(cities[starts]),
                )
            )
        self.user_city = sorted(rows)

        # zone_report: per-type counts at three grains + registrations.
        z = timed.assign(
            week=timed.ts.dt.isocalendar().week.astype(np.int64),
            month=timed.ts.dt.month.astype(np.int64),
        )
        types = ["message", "reaction", "subscription"]
        onehot = pd.get_dummies(z.etype).reindex(columns=types, fill_value=0).astype(np.int64)
        zz = pd.concat([z[["week", "month", "city_id"]], onehot], axis=1)
        cell = zz.groupby(["week", "month", "city_id"], as_index=False)[types].sum()
        wk = zz.groupby(["week", "city_id"], as_index=False)[types].sum()
        mo = zz.groupby(["month", "city_id"], as_index=False)[types].sum()
        first_ev = z.sort_values("ts").groupby("user", as_index=False).first()
        wu = first_ev.groupby(["week", "city_id"]).size().rename("week_user").reset_index()
        mu = first_ev.groupby(["month", "city_id"]).size().rename("month_user").reset_index()
        out = (
            cell.merge(wk.rename(columns={t: f"week_{t}" for t in types}), on=["week", "city_id"])
            .merge(mo.rename(columns={t: f"month_{t}" for t in types}), on=["month", "city_id"])
            .merge(wu, on=["week", "city_id"], how="left")
            .merge(mu, on=["month", "city_id"], how="left")
            .fillna({"week_user": 0, "month_user": 0})
        )
        self.zone_cols = (
            ["week", "month", "zone_id"]
            + [f"week_{t}" for t in types] + ["week_user"]
            + [f"month_{t}" for t in types] + ["month_user"]
        )
        out = out.rename(columns={"city_id": "zone_id"})
        self.zone_report = sorted(
            tuple(int(v) for v in r) for r in out[self.zone_cols].itertuples(index=False)
        )

        # recommendations: same channel, same current city, within 1 km.
        pos = msgs.groupby("user").last()[["lat", "lon", "city_id"]]
        subs = df[(df.etype == "subscription") & df.sub_user.notna() & df.channel.notna()]
        subs = subs.assign(user=subs.sub_user.astype(np.int64),
                           channel=subs.channel.astype(np.int64))[["channel", "user"]]
        members = subs.drop_duplicates().join(pos, on="user", how="inner")
        best: dict[tuple[int, int], tuple[int, int, float]] = {}
        for (channel, city), g in members.groupby(["channel", "city_id"]):
            u = g.user.to_numpy()
            if len(u) < 2:
                continue
            dd = haversine_km(g.lat.to_numpy()[:, None], g.lon.to_numpy()[:, None],
                              g.lat.to_numpy()[None, :], g.lon.to_numpy()[None, :])
            for i, j in zip(*np.nonzero((dd <= RADIUS_KM) & (u[:, None] < u[None, :]))):
                key = (int(u[i]), int(u[j]))
                if key not in best or channel < best[key][0]:
                    best[key] = (int(channel), int(city), float(dd[i, j]))
        self.recommendations = sorted((a, b, c, z) for (a, b), (c, z, _) in best.items())
        self.pair_dist = {k: v[2] for k, v in best.items()}


def read_mes_geo(path: str) -> pd.DataFrame:
    t = pq.read_table(path, columns=["event", "city_id"])
    return pd.DataFrame(
        {
            "message_id": t.column("event").combine_chunks().field("message_id").to_numpy(),
            "city_id": t.column("city_id").to_numpy().astype(np.int64),
        }
    )


def check_geotag(exp: DagExpected, got: pd.DataFrame) -> list[str]:
    got = got.sort_values("message_id", ignore_index=True)
    if len(got) != len(exp.geotag):
        return [f"mes_geo has {len(got)} rows, expected {len(exp.geotag)}"]
    bad = int((got.to_numpy() != exp.geotag.to_numpy()).any(axis=1).sum())
    return [f"{bad} events not at their haversine-argmin city"] if bad else []


def read_user_city(path: str) -> list[tuple]:
    df = pq.read_table(
        path, columns=["user_id", "act_city", "home_city", "travel_count", "travel_array"]
    ).to_pandas()
    return sorted(
        (int(r.user_id), r.act_city, r.home_city, int(r.travel_count), tuple(r.travel_array))
        for r in df.itertuples(index=False)
    )


def check_user_city(exp: DagExpected, got: list[tuple]) -> list[str]:
    if len(got) != len(exp.user_city):
        return [f"user_city has {len(got)} users, expected {len(exp.user_city)}"]
    bad = [(g, e) for g, e in zip(got, exp.user_city) if g != e]
    return [f"{len(bad)} users differ, first: {bad[0]}"] if bad else []


def read_zone_report(path: str, cols: list[str]) -> list[tuple]:
    df = pq.read_table(path).to_pandas()
    return sorted(tuple(int(v) for v in r) for r in df[cols].itertuples(index=False))


def check_zone_report(exp: DagExpected, got: list[tuple]) -> list[str]:
    if got != exp.zone_report:
        missing = sorted(set(exp.zone_report) - set(got))[:1]
        extra = sorted(set(got) - set(exp.zone_report))[:1]
        return [f"zone report differs: missing {missing}, unexpected {extra}"]
    return []


def read_recommendations(path: str) -> pd.DataFrame:
    return pq.read_table(
        path, columns=["user_left", "user_right", "channel", "zone_id", "dist_km"]
    ).to_pandas()


def check_recommendations(exp: DagExpected, got: pd.DataFrame) -> list[str]:
    pairs = sorted(
        (int(r.user_left), int(r.user_right), int(r.channel), int(r.zone_id))
        for r in got.itertuples(index=False)
    )
    if pairs != exp.recommendations:
        missing = sorted(set(exp.recommendations) - set(pairs))[:1]
        extra = sorted(set(pairs) - set(exp.recommendations))[:1]
        return [f"{len(pairs)} pairs vs {len(exp.recommendations)} brute-force: "
                f"missing {missing}, unexpected {extra}"]
    far = [
        r for r in got.itertuples(index=False)
        if abs(r.dist_km - exp.pair_dist[(int(r.user_left), int(r.user_right))]) > 1e-6
    ]
    return [f"{len(far)} pair distances differ"] if far else []


# --- corruptions for the self-test ----------------------------------------------


def corrupt_geotag(got: pd.DataFrame) -> pd.DataFrame:
    bad = got.copy()
    bad.iat[0, 1] = bad.iat[0, 1] % 60 + 1 if bad.iat[0, 1] != 60 else 2
    return bad


def corrupt_rows(rows: list[tuple]) -> list[tuple]:
    """Drop the last row and change one field of the first."""
    first = list(rows[0])
    first[1] = first[1] + 1 if isinstance(first[1], (int, np.integer)) else f"{first[1]}#"
    return [tuple(first)] + rows[1:-1]


def corrupt_recommendations(got: pd.DataFrame) -> pd.DataFrame:
    return got.iloc[1:]


def self_test(check, good, corrupt) -> bool:
    """True when the check accepts ``good`` and rejects its corruption."""
    return not check(good) and bool(check(corrupt(good)))
