"""Seeded Fitbit landing-set generator.

Writes the reference pipeline's landing inputs, one directory per set:

    <out>/set_NNN/registered_users/set_NNN.csv
    <out>/set_NNN/gym_logins/set_NNN.csv
    <out>/set_NNN/multiplex/set_NNN.json   (user_info, workout and bpm envelopes)

One timeline of two reference test sets is generated from the seed and cut
at the given set boundaries; every record lands in the set of its event time
and the timeline ends at the last boundary. A cut of [PERIOD_S, 2 * PERIOD_S]
is the reference's two-set batch replay; finer cuts give trickle sets.

The shape follows the reference's published figures (BASELINE.md); the
constants below say where each comes from, and which ones the reference does
not give. Single-threaded; the same arguments give byte-identical files.
"""
import json
import os
import random

T0 = 1704067200  # 2024-01-01 00:00:00 UTC

# From the reference (BASELINE.md):
USERS = 5                  # registered_users rows per set: 5 (set 1), 10 (sets 1+2); one device each
BPM_PER_SET = 253_801      # BPM events per test set
BPM_PER_HOUR = 4_000       # synthetic generation rate, 3,000-5,000 BPM events/hour (midpoint)
PERIOD_S = BPM_PER_SET * 3600 / BPM_PER_HOUR  # one test set of the timeline: ~63.5 hours
SESSIONS_PER_SET = 8       # gym_logins rows per set: 8; workout rows: 16 (start + stop)
CDC_UPDATES = (2, 1)       # user_info rows: 7 in set 1 (5 new + 2), 6 in set 2 (5 + 1)
SESSION_MIN = (20, 55)     # minutes; with 800 BPM/hour per device, 8 sessions of ~37 min
#                            hold ~4,000 workout_bpm rows per set (reference: 3,968)
BATCH_S = 120              # new batches every 2 minutes: the trickle set length
# Not given by the reference (chosen here):
INVALID_SHARE = 0.02       # readings with heartrate <= 0
OVERLAP_S = 30             # set i re-delivers set i-1's multiplex records of its last 30 s
LOGOUT_EXT_MIN = (5, 30)   # set i > 0 re-delivers the latest earlier gym visit with a later logout
CITIES = [("Springfield", "IL"), ("Shelbyville", "IL"), ("Ogdenville", "OR"),
          ("North Haverbrook", "OR"), ("Capital City", "NY"), ("Brockway", "NY")]


def _envelope(topic, payload, offset, ts_sec, part):
    return json.dumps({"key": f"{topic[0]}{offset}", "value": json.dumps(payload, separators=(",", ":")),
                       "topic": topic, "partition": part, "offset": offset,
                       "timestamp": ts_sec * 1000}, separators=(",", ":"))


def _bpm_envelope(dev, hr, offset, ts_sec, part):
    """_envelope of a bpm reading, formatted directly (the bulk of every set)."""
    return ('{"key":"b%d","value":"{\\"device_id\\":%d,\\"time\\":%d.0,\\"heartrate\\":%r}",'
            '"topic":"bpm","partition":%d,"offset":%d,"timestamp":%d}'
            % (offset, dev, ts_sec, hr, part, offset, ts_sec * 1000))


def _user_info(rng, uid, utype, ts, dob):
    city, state = rng.choice(CITIES)
    return {"user_id": uid, "update_type": utype, "timestamp": float(ts), "dob": dob,
            "sex": "F" if uid % 2 else "M", "gender": "F" if uid % 2 else "M",
            "first_name": f"fn{uid}", "last_name": f"ln{uid}",
            "address": {"street_address": f"{rng.randint(1, 999)} Main St", "city": city,
                        "state": state, "zip": rng.randint(10000, 99999)}}


def _session(rng, start, stop):
    """A gym visit around a workout session: (login, logout)."""
    return start - rng.randrange(5 * 60, 20 * 60), stop + rng.randrange(60, 20 * 60)


def generate(out, seed, cuts):
    """Write one landing set per cut under `out`; return the input properties.

    `cuts` are the sets' end times in seconds after T0, ascending; the last
    one ends the timeline and is at most 2 * PERIOD_S.
    """
    rng = random.Random(seed)
    end = T0 + int(cuts[-1])
    bounds = [T0 + int(c) for c in cuts]
    n_sets = len(cuts)

    def set_of(t):
        return next((i for i, b in enumerate(bounds) if t < b), n_sets - 1)

    # timeline records: (time, topic, payload, partition); gym visits apart
    events, visits = [], []
    users = []
    for uid in range(1, USERS + 1):
        reg = T0 + rng.randrange(0, 600)
        dob = f"{rng.randint(1, 12):02d}/{rng.randint(1, 28):02d}/{rng.randint(1940, 2008)}"
        users.append((uid, 100000 + uid, f"m{uid:05d}", reg, uid % 4, dob))
        events.append((reg + 1, "user_info", _user_info(rng, uid, "new", reg + 1, dob), uid % 4))
    session_id = 0

    def add_session(uid, start, stop, login, logout):
        nonlocal session_id
        session_id += 1
        wid = rng.randint(1, 5)
        part = uid % 4
        for t, action in ((start, "start"), (stop, "stop")):
            events.append((t, "workout", {"user_id": uid, "workout_id": wid, "timestamp": float(t),
                                          "session_id": session_id, "action": action}, part))
        visits.append((logout, f"m{uid:05d}", rng.randint(1, 4), login))

    # the two reference periods: CDC updates and sessions (in whole periods),
    # readings (up to the end of the timeline)
    per_device = BPM_PER_SET // USERS
    for k in range(2):
        lo, hi = T0 + int(k * PERIOD_S), T0 + int((k + 1) * PERIOD_S)
        if lo >= end:
            break
        if hi <= end:
            for _ in range(CDC_UPDATES[k]):
                uid, _dev, _mac, reg, part, dob = rng.choice(users)
                t = rng.randrange(max(lo, reg + 2), hi)
                events.append((t, "user_info", _user_info(rng, uid, "update", t, dob), part))
            for _ in range(SESSIONS_PER_SET):
                uid = rng.randint(1, USERS)
                start = rng.randrange(lo + 3600, hi - 3 * 3600)
                stop = start + rng.randrange(SESSION_MIN[0] * 60, SESSION_MIN[1] * 60)
                add_session(uid, start, stop, *_session(rng, start, stop))
        top = min(hi, end)
        for i, (uid, dev, _mac, reg, part, _dob) in enumerate(users):
            n = per_device + (1 if i < BPM_PER_SET - per_device * USERS else 0)
            n = n if top == hi else round(n * (top - lo) / (hi - lo))
            for t in sorted(rng.sample(range(max(lo, reg + 2), top), n)):
                hr = rng.choice((0.0, -1.0, -5.0)) if rng.random() < INVALID_SHARE \
                    else round(rng.uniform(55.0, 185.0), 1)
                events.append((t, "bpm", (dev, hr), part))

    # one session spans each inner cut: it starts before the boundary and
    # stops within the first batch after it, so every trickle set completes
    # a workout (drawn from their own generator: the timeline above does not
    # depend on the cuts)
    crng = random.Random(seed * 7919 + n_sets)
    for j, b in enumerate(bounds[:-1]):
        uid = 1 + j % USERS
        start = b - crng.randrange(10 * 60, 30 * 60)
        stop = b + crng.randrange(10, min(BATCH_S, bounds[j + 1] - b) - 10)
        add_session(uid, start, stop, *_session(crng, start, stop))

    events = [e for e in events if e[0] < end]
    events.sort(key=lambda e: (e[0], e[1]))  # stable: ties keep generation order
    mux = [[] for _ in range(n_sets)]        # (time, JSON line)
    offsets = {}
    news = []                                # user_info `new` records
    n_invalid = n_cdc = 0
    bpm_landed = [0] * n_sets
    for t, topic, payload, part in events:
        off = offsets.get((topic, part), 0)
        offsets[(topic, part)] = off + 1
        s = set_of(t)
        if topic == "bpm":
            mux[s].append((t, _bpm_envelope(*payload, off, t, part)))
            bpm_landed[s] += 1
            n_invalid += payload[1] <= 0
            continue
        line = _envelope(topic, payload, off, t, part)
        mux[s].append((t, line))
        if topic == "user_info":
            n_cdc += payload["update_type"] == "update"
            if payload["update_type"] == "new":
                news.append(line)
    regs = [[f"{uid},{dev},{mac},{reg}.0" for uid, dev, mac, reg, _, _ in users]] + [[] for _ in range(n_sets - 1)]
    gyms = [[] for _ in range(n_sets)]
    for logout, mac, gym, login in sorted(v for v in visits if v[3] < end):
        gyms[set_of(logout)].append(f"{mac},{gym},{login}.0,{logout}.0")

    # re-deliveries: every later set carries the registrations and the `new`
    # user_info records again (the reference's set 2), the previous set's
    # last OVERLAP_S seconds of multiplex records, and one logout extension
    n_redelivered = n_ext = 0
    last_visit = None
    for i in range(1, n_sets):
        regs[i] = regs[0] + regs[i]
        again = [(t, line) for t, line in mux[i - 1] if t >= bounds[i - 1] - OVERLAP_S]
        again += [(0, line) for line in news]
        bpm_landed[i] += sum('"topic":"bpm"' in line for _, line in again)
        n_redelivered += len(again)
        mux[i].extend(again)
        for line in gyms[i - 1]:
            last_visit = line
        if last_visit is not None:
            mac, gym, login, logout = last_visit.split(",")
            last_visit = f"{mac},{gym},{login},{int(float(logout)) + 60 * rng.randint(*LOGOUT_EXT_MIN)}.0"
            gyms[i].append(last_visit)
            n_ext += 1

    os.makedirs(out, exist_ok=True)
    for i in range(n_sets):
        name = f"set_{i:03d}"
        d = os.path.join(out, name)
        _write(os.path.join(d, "registered_users", name + ".csv"),
               ["user_id,device_id,mac_address,registration_timestamp"] + regs[i], len(regs[i]))
        _write(os.path.join(d, "gym_logins", name + ".csv"),
               ["mac_address,gym,login,logout"] + gyms[i], len(gyms[i]))
        _write(os.path.join(d, "multiplex", name + ".json"), [line for _, line in mux[i]], len(mux[i]))
    starts = {}
    for t, topic, p, _ in events:
        if topic == "workout":
            starts.setdefault(p["session_id"], []).append(set_of(t))
    return {"sets": n_sets, "users": USERS, "devices": USERS, "bpm_landed_per_set": bpm_landed,
            "invalid_readings": n_invalid, "redelivered_records": n_redelivered,
            "cdc_updates": n_cdc,
            "logout_extensions": n_ext, "gym_logins_per_set": [len(g) for g in gyms],
            "workout_records_per_set": [sum('"topic":"workout"' in line for _, line in s) for s in mux],
            "sessions_spanning_sets": sum(len(set(v)) > 1 for v in starts.values())}


def _write(path, lines, n_rows):
    if n_rows == 0:
        return
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")
