"""Seeded input for the `etl` workload and the expected output it must produce.

Everything here is a pure function of the seed: the animals catalog (ids,
names, `friends` strings and `born_at` epochs in every unit the pipeline must
handle), the page layout, and the fault schedule the in-memory service
applies. `expected_record` is the reference transform, written independently
of graft, that the POSTed records are checked against.
"""
import random
from datetime import datetime, timedelta, timezone

N_ANIMALS = 2000
PAGE_SIZE = 50
# Fixed service time per call, in ms. Detail lookups dominate: with n task
# slots in flight, a run takes about N_ANIMALS * detail / n.
SERVICE_MS = {"page": 5, "detail": 2, "post": 10}
AS_OF = "2026-01-01 00:00:00"  # UTC; later epochs are "future" and dropped
AS_OF_US = int(datetime(2026, 1, 1, tzinfo=timezone.utc).timestamp()) * 10**6

# graft's default RetryPolicy makes 6 attempts per logical request; a fault
# fails the first k attempts of one request, and k stays below the budget.
# Each failed attempt costs a 250-750 ms backoff, so a run has few faults.
RETRY_ATTEMPTS = 6
FAULTS = (("page", 1), ("detail", 1), ("post", 1))
assert max(k for _, k in FAULTS) < RETRY_ATTEMPTS

MAX_EPOCH_S = 253402300799  # 9999-12-31T23:59:59Z, the largest representable
SPECIES = ("Cat", "Dog", "Mouse", "Kangaroo", "Sea Lion", "Otter", "Heron",
           "Lynx", "Tapir", "Ibis", "Gecko", "Marmot")
_VALID_FROM_S = int(datetime(2002, 1, 1, tzinfo=timezone.utc).timestamp())
_EPOCH = datetime(1970, 1, 1, tzinfo=timezone.utc)


def _friends(rng):
    roll = rng.random()
    if roll < 0.10:
        return None
    if roll < 0.15:
        return ""
    if roll < 0.20:
        return " , ,"  # only separators and spaces
    names = [rng.choice(SPECIES) for _ in range(rng.randint(1, 4))]
    pieces = [" " * rng.randint(0, 2) + n + " " * rng.randint(0, 2) for n in names]
    if rng.random() < 0.2:
        pieces.insert(rng.randint(0, len(pieces)), " ")  # an empty piece
    return ",".join(pieces)


def _born_at(rng):
    """An epoch in one of the shapes the transform must handle."""
    kind = rng.choices(
        ("null", "s", "ms", "us", "ns", "negative", "future", "year10000"),
        weights=(10, 15, 25, 15, 15, 5, 10, 5))[0]
    secs = rng.randint(_VALID_FROM_S, AS_OF_US // 10**6 - 1)
    if kind == "null":
        return None
    if kind == "s":
        return secs
    if kind == "ms":
        return secs * 1000 + rng.randint(0, 999)
    if kind == "us":
        return secs * 10**6 + rng.randint(0, 10**6 - 1)
    if kind == "ns":
        return secs * 10**9 + rng.randint(0, 10**9 - 1)
    if kind == "negative":
        return -rng.randint(1, 10**12)
    if kind == "future":
        return (AS_OF_US + rng.randint(1, 50 * 365 * 86400 * 10**6)) // 1000  # ms
    return rng.randint(MAX_EPOCH_S + 1, 10**12 - 1)  # seconds past year 9999


def catalog(seed, n=N_ANIMALS):
    """The listing in page order: [{"id", "name", "friends", "born_at"}]."""
    rng = random.Random(f"etl-catalog:{seed}")
    ids = rng.sample(range(1, 10**9), n)
    return [{"id": i, "name": rng.choice(SPECIES), "friends": _friends(rng),
             "born_at": _born_at(rng)} for i in ids]


def fault_schedule(seed, animals, page_size=PAGE_SIZE):
    """{"<kind>:<key>": k}: the first k attempts of that request get a 503.

    A page fault names a page number (never page 1, which the driver also
    probes), a detail fault an animal id, and a POST fault the id of a record
    in the batch it hits."""
    rng = random.Random(f"etl-faults:{seed}")
    pages = (len(animals) + page_size - 1) // page_size
    ids = rng.sample([a["id"] for a in animals], len(FAULTS))
    schedule = {}
    for (kind, k), animal_id in zip(FAULTS, ids):
        key = f"page:{rng.randint(2, pages)}" if kind == "page" else f"{kind}:{animal_id}"
        schedule[key] = k
    return schedule


def service_config(seed, n=N_ANIMALS):
    """The whole file the in-memory service loads."""
    animals = catalog(seed, n)
    return {"page_size": PAGE_SIZE, "service_ms": SERVICE_MS,
            "faults": fault_schedule(seed, animals), "animals": animals}


def split_friends(s):
    """Comma split, pieces trimmed of spaces, empty pieces dropped."""
    return [p.strip(" ") for p in (s or "").split(",") if p.strip(" ")]


def iso_utc(epoch, as_of_us=AS_OF_US):
    """Epoch in s/ms/us/ns (told apart by magnitude) -> ISO-8601 UTC with a
    6-digit fraction when non-zero; None if null, negative, past year 9999 or
    after `as_of_us`."""
    if epoch is None or epoch < 0:
        return None
    if epoch >= 10**18:
        micros = epoch // 1000
    elif epoch >= 10**15:
        micros = epoch
    elif epoch >= 10**12:
        micros = epoch * 1000
    else:
        micros = epoch * 10**6
    if micros > MAX_EPOCH_S * 10**6 or micros > as_of_us:
        return None
    text = (_EPOCH + timedelta(microseconds=micros)).strftime("%Y-%m-%dT%H:%M:%S")
    frac = micros % 10**6
    return text + (f".{frac:06d}" if frac else "") + "Z"


def expected_record(animal, as_of_us=AS_OF_US):
    """The record the sink must POST for one catalog entry; an invalid
    `born_at` is omitted, not null."""
    out = {"id": animal["id"], "name": animal["name"],
           "friends": split_friends(animal["friends"])}
    born = iso_utc(animal["born_at"], as_of_us)
    if born is not None:
        out["born_at"] = born
    return out


def check_posted(animals, batches, as_of_us=AS_OF_US):
    """Compares one run's POSTed batches (JSON arrays, parsed) with the
    catalog. Returns (records checked, {id: problem} for every wrong id)."""
    expected = {a["id"]: expected_record(a, as_of_us) for a in animals}
    seen = {}
    bad = {}
    for batch in batches:
        for rec in batch:
            rid = rec.get("id")
            seen[rid] = seen.get(rid, 0) + 1
            if rid not in expected:
                bad[rid] = "not in the catalog"
            elif rec != expected[rid]:
                bad[rid] = f"posted {rec}, expected {expected[rid]}"
    for rid in expected:
        if seen.get(rid, 0) != 1:
            bad[rid] = f"posted {seen.get(rid, 0)} times"
    return len(expected), bad
