"""Deterministic simulation-campaign generator for the campaign workloads.

Usage: python3 gen_campaign.py <out_dir> <seed> <cache_dir>

Writes, under <out_dir>:
  circuit/nodes.parquet       node table: gid + layer/etype/mtype properties
  sim_<i>/spikes.parquet      one spike report per simulation, (time, gid),
                              sorted by (time, gid)
  campaign.yaml               native campaign: conditions + simulation paths
  analysis.yaml               the analysis the build and reload phases run
  analysis_edit.yaml          the same analysis with one feature's params
                              changed and a narrower simulations_filter

The same seed gives byte-identical files. The program reads only these files.
"""

import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_SIMS = 8
N_SPIKES = 10_000  # per simulation
N_NODES = 1_000
CA_VALUES = [1.0, 1.1, 1.2, 1.3]
DURATION_MS = 3000.0
TRIAL_STEP_MS = 250.0
N_TRIALS = 10
MTYPES = ["L23_PC", "L4_SS", "L5_TPC", "L6_IPC", "INT_BC"]


def write_nodes(path, rng, n_nodes):
    layer = rng.integers(1, 7, size=n_nodes)
    inh = rng.random(n_nodes) < 0.15
    mtype = np.where(inh, "INT_BC", np.array(MTYPES[:4])[np.clip(layer - 2, 0, 3)])
    table = pa.table({
        "gid": pa.array(np.arange(n_nodes, dtype=np.int64)),
        "layer": pa.array(layer.astype(np.int64)),
        "etype": pa.array(np.where(inh, "inh", "exc")),
        "mtype": pa.array(mtype),
    })
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def write_spikes(path, rng, n_spikes, rates):
    # background firing at per-cell rates, plus stimulus-locked bursts at
    # the start of every trial
    gid = rng.choice(len(rates), size=n_spikes, p=rates / rates.sum()).astype(np.int64)
    locked = rng.random(n_spikes) < 0.3
    trial = rng.integers(0, N_TRIALS, size=n_spikes)
    time = np.where(
        locked,
        trial * TRIAL_STEP_MS + rng.normal(40.0, 15.0, size=n_spikes),
        rng.uniform(0.0, DURATION_MS, size=n_spikes))
    time = np.round(np.clip(time, 0.0, DURATION_MS - 0.025), 3)
    order = np.lexsort((gid, time))
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.table({"time": time[order], "gid": gid[order]}), path)


def ca_list(values):
    return "[" + ", ".join(f"{v:.1f}" for v in values) + "]"


def analysis_yaml(out_dir, cache_dir, ca_filter, sigma, in_memory):
    return f"""simulation_campaign: {out_dir}/campaign.yaml
output: {cache_dir}
simulations_filter: {{ca: {ca_list(ca_filter)}}}
simulations_filter_in_memory: {{ca: {in_memory:.1f}}}
seed: 7
analysis:
  spikes:
    extraction:
      report: {{type: spikes}}
      neuron_classes:
        exc: {{query: {{etype: exc}}}}
        inh: {{query: {{etype: inh}}}}
        superficial: {{query: {{layer: [2, 3]}}}}
        l5_sample: {{query: {{layer: 5}}, limit: 100}}
        l4_ss: {{query: {{mtype: L4_SS}}}}
      windows:
        trials: {{bounds: [0, 200], n_trials: {N_TRIALS}, trial_steps_value: {TRIAL_STEP_MS}}}
        full: {{bounds: [0, {DURATION_MS:.0f}]}}
    features:
      - groupby: [simulation_id, circuit_id, neuron_class, window]
        function: mean_firing_rates
        params: {{hist_bin_size: 10.0}}
      - groupby: [simulation_id, circuit_id, neuron_class, window]
        function: histograms
        params_product:
          bin_size: [10.0, 50.0]
      - groupby: [simulation_id, circuit_id, neuron_class, window]
        function: smoothed_histograms
        windows: [full]
        params: {{bin_size: 20.0, sigma: {sigma}}}
"""


def main():
    out_dir, seed, cache_dir = sys.argv[1], int(sys.argv[2]), sys.argv[3]
    rng = np.random.default_rng(seed)
    nodes = f"{out_dir}/circuit/nodes.parquet"
    write_nodes(nodes, rng, N_NODES)
    rates = rng.lognormal(0.0, 0.5, size=N_NODES)
    rows = []
    for i in range(N_SIMS):
        write_spikes(f"{out_dir}/sim_{i:03d}/spikes.parquet", rng, N_SPIKES, rates)
        rows.append(
            f"  - {{simulation_path: sim_{i:03d}/spikes.parquet, circuit_path: {nodes}, "
            f"ca: {CA_VALUES[i % len(CA_VALUES)]:.1f}, seed: {i // len(CA_VALUES) + 1}}}")
    with open(f"{out_dir}/campaign.yaml", "w") as f:
        f.write(f"name: bench-campaign\nattrs:\n  path_prefix: {out_dir}\ndata:\n")
        f.write("\n".join(rows) + "\n")
    with open(f"{out_dir}/analysis.yaml", "w") as f:
        f.write(analysis_yaml(out_dir, cache_dir, CA_VALUES, 2.0, CA_VALUES[0]))
    with open(f"{out_dir}/analysis_edit.yaml", "w") as f:
        f.write(analysis_yaml(out_dir, cache_dir, CA_VALUES[:2], 3.0, CA_VALUES[0]))


if __name__ == "__main__":
    main()
