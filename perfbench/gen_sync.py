"""Seeded fixture generator for the sync_incremental workload.

Writes one directory of provider fixtures per sync epoch, across
TENANTS tenants: compute-instance reservations and storage buckets (JSON
lines, the shapes graft.intel.ComputeInstances / StorageBuckets read),
accounts, principals, users and access keys. Each epoch removes, adds and
edits a fixed seeded share of the assets. Next to the fixtures,
expected.json holds the live ids per label after the epoch and the
drift counts a correct sync must report.
"""
import json
import os
import random

TENANTS = 20
TYPES = ["small", "medium", "large", "xlarge"]
TEAMS = ["core", "data", "web", "infra", None]
EPOCH0 = 1_700_000_000
CHURN_REMOVE, CHURN_ADD, CHURN_EDIT = 0.04, 0.04, 0.08


def tag_of(epoch):
    return EPOCH0 + epoch * 3600


class World:
    def __init__(self, rng, n_inst):
        self.rng = rng
        self.seq = 0
        self.instances = {}
        self.buckets = {}
        self.principals = {}
        self.users = {}
        for _ in range(n_inst):
            self.add_instance()
        for _ in range(n_inst // 2):
            self.add_bucket()
        for _ in range(n_inst // 4):
            self.add_principal()

    def next_id(self):
        self.seq += 1
        return self.seq

    def tenant(self):
        return f"acct-{self.rng.randrange(TENANTS):02d}"

    def add_instance(self):
        r = self.rng
        i = f"i-{self.next_id():07d}"
        self.instances[i] = {
            "tenant": self.tenant(), "type": r.choice(TYPES),
            "state": r.choice(["running", "running", "stopped"]),
            "tokens": r.choice(["required", "optional"]), "team": r.choice(TEAMS),
            "nics": [f"nic-{i[2:]}-{k}" for k in range(r.randrange(1, 3))],
            "launch": f"2024-0{r.randrange(1, 10)}-1{r.randrange(0, 10)}T00:00:00Z"}

    def add_bucket(self):
        r = self.rng
        b = f"bucket-{self.next_id():07d}"
        self.buckets[b] = {
            "tenant": self.tenant(), "encrypted": r.random() < 0.7,
            "versioning": r.choice(["Enabled", "Suspended"]),
            "public": r.random() < 0.1, "grantee": f"user-{r.randrange(500)}"}

    def add_principal(self):
        p = f"p-{self.next_id():07d}"
        t = self.tenant()
        self.principals[p] = {"tenant": t,
                              "name": f"role/{t}/svc-{self.rng.randrange(100):02d}"}
        self.users[f"u-{p[2:]}"] = {"mfa": self.rng.random() < 0.8,
                                    "created": tag_of(0) - self.rng.randrange(200 * 86400)}

    def churn(self):
        """Remove, add and edit a fixed share of every asset kind; returns
        (added, removed, edited) instance counts."""
        r = self.rng
        n = len(self.instances)
        k_rm, k_add, k_ed = int(n * CHURN_REMOVE), int(n * CHURN_ADD), int(n * CHURN_EDIT)
        ids = sorted(self.instances)
        gone = r.sample(ids, k_rm)
        for i in gone:
            del self.instances[i]
        for i in r.sample(sorted(self.instances), k_ed):
            inst = self.instances[i]
            inst["state"] = "stopped" if inst["state"] == "running" else "running"
        for _ in range(k_add):
            self.add_instance()
        nb = len(self.buckets)
        for b in r.sample(sorted(self.buckets), int(nb * CHURN_REMOVE)):
            del self.buckets[b]
        for b in r.sample(sorted(self.buckets), int(nb * CHURN_EDIT)):
            self.buckets[b]["encrypted"] = not self.buckets[b]["encrypted"]
        for _ in range(int(nb * CHURN_ADD)):
            self.add_bucket()
        npr = len(self.principals)
        for p in r.sample(sorted(self.principals), int(npr * CHURN_REMOVE)):
            del self.principals[p]
        for _ in range(int(npr * CHURN_ADD)):
            self.add_principal()
        return k_add, k_rm, k_ed

    def write(self, out, epoch, added, removed, edited):
        os.makedirs(out, exist_ok=True)
        by_res = {}
        for i, inst in sorted(self.instances.items()):
            # reservations of up to 4 instances of one tenant
            key = (inst["tenant"], int(i[2:]) // 4)
            by_res.setdefault(key, []).append((i, inst))
        with open(os.path.join(out, "compute.json"), "w") as f:
            for (tenant, rid), members in sorted(by_res.items()):
                f.write(json.dumps({
                    "OwnerId": tenant, "ReservationId": f"r-{rid:07d}",
                    "Instances": [{
                        "InstanceId": i, "Type": m["type"], "State": m["state"],
                        "LaunchTime": m["launch"],
                        "MetadataOptions": {"HttpTokens": m["tokens"]},
                        "Tags": ([{"Key": "team", "Value": m["team"]}] if m["team"] else []),
                        "Nics": [{"NicId": n, "SubnetId": f"subnet-{tenant}"} for n in m["nics"]],
                    } for i, m in members]}) + "\n")
        with open(os.path.join(out, "buckets.json"), "w") as f:
            for b, m in sorted(self.buckets.items()):
                grants = [{"Grantee": {"Id": m["grantee"], "Type": "CanonicalUser"},
                           "Permission": "FULL_CONTROL"}]
                if m["public"]:
                    grants.append({"Grantee": {"URI": "http://acs/groups/global/AllUsers",
                                               "Type": "Group"}, "Permission": "READ"})
                f.write(json.dumps({
                    "Owner": m["tenant"], "Name": b, "CreationDate": "2024-01-01T00:00:00Z",
                    "Encryption": {"Enabled": m["encrypted"], "Algorithm": "AES256"},
                    "Versioning": m["versioning"], "Grants": grants}) + "\n")
        with open(os.path.join(out, "accounts.json"), "w") as f:
            for t in range(TENANTS):
                f.write(json.dumps({"id": f"acct-{t:02d}"}) + "\n")
        with open(os.path.join(out, "principals.json"), "w") as f:
            for p, m in sorted(self.principals.items()):
                f.write(json.dumps({"id": p, "name": m["name"], "tenant": m["tenant"]}) + "\n")
        with open(os.path.join(out, "users.json"), "w") as f:
            for u, m in sorted(self.users.items()):
                if f"p-{u[2:]}" in self.principals:
                    f.write(json.dumps({"id": u, "name": u, "mfa_enabled": m["mfa"]}) + "\n")
        with open(os.path.join(out, "keys.json"), "w") as f:
            for u, m in sorted(self.users.items()):
                if f"p-{u[2:]}" in self.principals:
                    f.write(json.dumps({"id": f"k-{u[2:]}", "owner": u,
                                        "created_epoch": m["created"]}) + "\n")
        with open(os.path.join(out, "expected.json"), "w") as f:
            json.dump({
                "tag": tag_of(epoch),
                "live": {"Instance": sorted(self.instances), "Bucket": sorted(self.buckets),
                         "Principal": sorted(self.principals)},
                "drift_added": added + edited, "drift_removed": removed + edited}, f)


def generate(seed, epochs, n_inst, out):
    rng = random.Random(seed)
    w = World(rng, n_inst)
    w.write(os.path.join(out, "epoch_001"), 1, len(w.instances), 0, 0)
    for e in range(2, epochs + 1):
        added, removed, edited = w.churn()
        w.write(os.path.join(out, f"epoch_{e:03d}"), e, added, removed, edited)
