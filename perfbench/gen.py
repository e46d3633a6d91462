"""Seeded input generators. The same seed gives the same bytes.

Trip telemetry: OBD-II messages in the shape of `TripModel.messageSchema`
(`TripStart`, 1 Hz `TripData` with GPS and speed, occasional `TripEvent`,
`TripEnd`), written in arrival order. A stated share of `TripData`
readings arrives late by at most 3 s, and a stated share of extra lines
is malformed so that the tolerant parser must drop it.

Document corpus: unique documents over a synthetic vocabulary, near-duplicate
families (a base document plus lightly edited variants), and a minority
of exact clones.
"""
import json
import math
import random

TRIP_PARAMS = {
    "vehicles": 40,             # trips in flight at any moment
    "trip_s": [10, 30],         # trip length in 1 Hz readings
    "gap_s": [2, 10],           # pause between two trips of one vehicle
    "delayed_share": 0.02,      # TripData readings that arrive late
    "max_delay_s": 3.0,         # the reference's out-of-orderness bound
    "malformed_share": 0.01,    # extra lines the parser must drop
    "event_share": 0.01,        # TripEvent messages per reading
}

CORPUS_PARAMS = {
    "docs": 8000,               # documents including clones
    "words": [60, 120],         # document length in words
    "vocabulary": 4000,
    "family_share": 0.3,        # base documents that get variants
    "variants": [1, 2],         # variants per family
    "edit_share": [0.003, 0.01],  # words replaced in a variant
    "clone_share": 0.12,        # documents that are exact copies
    "threshold": 0.8,           # Jaccard threshold of the dedup
}

EPOCH_2020 = 1577836800
PROTOCOLS = ["CAN11Bit", "CAN29Bit", "ISO14230", "ISO9141"]
MALFORMED_FIXED = [
    "corrupted {{{ json",
    "<html><body>502 Bad Gateway</body></html>",
    '{"header":{"tripNumber":1}}',
    "",
]


def iso(t):
    """Whole-second UTC timestamp in ISO-8601 with a Z suffix."""
    days, rem = divmod(EPOCH_2020 + t, 86400)
    h, rem = divmod(rem, 3600)
    m, s = divmod(rem, 60)
    y, mo, d = civil_from_days(days)
    return f"{y:04d}-{mo:02d}-{d:02d}T{h:02d}:{m:02d}:{s:02d}Z"


def civil_from_days(z):
    """Proleptic Gregorian date of a day count since 1970-01-01."""
    z += 719468
    era = z // 146097
    doe = z - era * 146097
    yoe = (doe - doe // 1460 + doe // 36524 - doe // 146096) // 365
    y = yoe + era * 400
    doy = doe - (365 * yoe + yoe // 4 - yoe // 100)
    mp = (5 * doy + 2) // 153
    d = doy - (153 * mp + 2) // 5 + 1
    m = mp + 3 if mp < 10 else mp - 9
    return y + (m <= 2), m, d


def dumps(obj):
    return json.dumps(obj, separators=(",", ":"))


def _trip_messages(rng, trip, vin, t0, n, p):
    """(event_time, message) pairs of one trip of `n` readings."""
    lat = round(rng.uniform(40.0, 41.0), 6)
    lon = round(rng.uniform(-4.0, -3.0), 6)
    heading = rng.uniform(0, 360)
    odometer = round(rng.uniform(1e3, 2e5), 1)
    moving, left = rng.random() < 0.7, rng.randint(5, 60)
    out = [(t0, {"body": {"tripNumber": trip, "timestamp": iso(t0), "type": "TripStart",
                          "vin": vin, "odometer": odometer,
                          "vehicleProtocol": rng.choice(PROTOCOLS)}})]
    for i in range(n):
        t = t0 + i
        if left == 0:
            moving = not moving
            left = rng.randint(20, 120) if moving else rng.randint(5, 40)
        left -= 1
        speed = round(min(120.0, max(5.5, rng.gauss(50, 15))), 1) if moving \
            else round(rng.uniform(0, 4), 1)
        if i > 0:
            km = speed / 3600.0
            heading = (heading + rng.uniform(-10, 10)) % 360
            h = math.radians(heading)
            lat = round(lat + km / 111.195 * math.cos(h), 6)
            lon = round(lon + km / (111.195 * math.cos(math.radians(lat))) * math.sin(h), 6)
        out.append((t, {"body": {"tripNumber": trip, "timestamp": iso(t), "type": "TripData",
                                 "pidData": {
                                     "VehicleSpeed": speed,
                                     "EngineRpm": round(800 + speed * 35 + rng.uniform(-50, 50), 1),
                                     "GpsReading": {
                                         "latitude": lat, "longitude": lon,
                                         "heading": round(heading, 1),
                                         "horizontalDilutionOfPrecision": 1.0,
                                         "numberOfSatellites": float(rng.randint(5, 12)),
                                         "hemisphere": "NorthWest", "fixQuality": "Standard"}}}}))
        if rng.random() < p["event_share"]:
            out.append((t, {"body": {"tripNumber": trip, "timestamp": iso(t), "type": "TripEvent",
                                     "eventData": {"geoFence": {"type": rng.choice(["Entry", "Exit"]),
                                                                "geoFenceId": float(rng.randint(1, 50))}}}}))
    t_end = t0 + n
    out.append((t_end, {"body": {"tripNumber": trip, "timestamp": iso(t_end), "type": "TripEnd",
                                 "odometer": round(odometer + 1.0, 1),
                                 "fuelConsumed": round(rng.uniform(0.1, 5.0), 3)}}))
    return out


def malformed_line(rng, valid):
    """A line the tolerant parser must drop: garbage, the wrong shape, or a
    valid message cut before its trip number is complete."""
    kind = rng.randrange(len(MALFORMED_FIXED) + 1)
    if kind < len(MALFORMED_FIXED):
        return MALFORMED_FIXED[kind]
    return valid[:rng.randint(1, 20)]


def trip_log(seed, lines, params=TRIP_PARAMS):
    """Returns (log lines in arrival order, indices of malformed lines).

    Each vehicle drives trips back to back; one event second holds about
    `vehicles` readings. Messages sort by arrival time, which is the event
    time plus the delay of a late reading.
    """
    p = params
    rng = random.Random(seed)
    horizon = int(1.3 * lines / p["vehicles"]) + 1
    arrivals = []  # (arrival, sequence, line, malformed)
    seq = 0
    trip = 1
    for v in range(p["vehicles"]):
        vin = f"VIN{seed % 1000:03d}{v:05d}"
        t = rng.randint(0, p["trip_s"][0])
        while t < horizon:
            n = rng.randint(*p["trip_s"])
            for et, msg in _trip_messages(rng, trip, vin, t, n, p):
                line = dumps(msg)
                late = msg["body"]["type"] == "TripData" and rng.random() < p["delayed_share"]
                at = et + (rng.randint(1, int(p["max_delay_s"] * 2)) / 2.0 if late else 0.0)
                if rng.random() < p["malformed_share"]:
                    arrivals.append((at, seq, malformed_line(rng, line), True))
                    seq += 1
                arrivals.append((at, seq, line, False))
                seq += 1
            trip += 1
            t += n + rng.randint(*p["gap_s"])
    arrivals.sort(key=lambda a: (a[0], a[1]))
    arrivals = arrivals[:lines]
    return [a[2] for a in arrivals], [i for i, a in enumerate(arrivals) if a[3]]


def corpus(seed, params=CORPUS_PARAMS):
    """Returns (docs, families): docs is a list of (doc_id, text, is_clone)
    sorted by id; families is a sorted list of sorted id lists, one per
    base document, holding the base, its variants and every clone of any
    of them (a document that nothing copies is a family of one)."""
    p = params
    rng = random.Random(seed)
    letters = "abcdefghijklmnopqrstuvwxyz"
    vocab = sorted({"".join(rng.choices(letters, k=rng.randint(3, 9)))
                    for _ in range(p["vocabulary"] * 2)})[:p["vocabulary"]]
    rng.shuffle(vocab)
    weights = [1.0 / (r + 1) ** 0.8 for r in range(len(vocab))]
    n_clones = int(p["docs"] * p["clone_share"])
    texts = []    # (text, family base index)
    while len(texts) < p["docs"] - n_clones:
        base = len(texts)
        words = rng.choices(vocab, weights=weights, k=rng.randint(*p["words"]))
        texts.append((" ".join(words), base))
        if rng.random() < p["family_share"]:
            for _ in range(rng.randint(*p["variants"])):
                edit = rng.uniform(*p["edit_share"])
                variant = [rng.choices(vocab, weights=weights)[0] if rng.random() < edit else w
                           for w in words]
                texts.append((" ".join(variant), base))
    texts = texts[:p["docs"] - n_clones]
    originals = len(texts)
    clones = []
    for _ in range(n_clones):
        src = rng.randrange(originals)
        clones.append((texts[src][0], texts[src][1]))
    ids = list(range(len(texts) + len(clones)))
    rng.shuffle(ids)
    docs, families = [], {}
    for k, (text, base) in enumerate(texts + clones):
        docs.append((ids[k], text, k >= originals))
        families.setdefault(base, []).append(ids[k])
    docs.sort()
    return docs, sorted(sorted(f) for f in families.values())


def write_trips(path, lines):
    with open(path, "w", encoding="utf-8", newline="\n") as f:
        for line in lines:
            f.write(line + "\n")


def write_corpus(path, docs):
    import pyarrow as pa
    import pyarrow.parquet as pq
    table = pa.table({
        "doc_id": pa.array([d[0] for d in docs], pa.int64()),
        "text": pa.array([d[1] for d in docs], pa.string()),
        "is_clone": pa.array([d[2] for d in docs], pa.bool_()),
    })
    pq.write_table(table, path)
