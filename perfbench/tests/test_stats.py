from stats import cpu_noise, tail_percentile


def test_tail_needs_ten_samples_beyond():
    assert tail_percentile(list(range(10))) is None
    # 19 samples: only values below the median have ten above them
    assert tail_percentile(list(range(19))) is None
    assert tail_percentile(list(range(20))) == (50, 9)
    assert tail_percentile(list(range(21))) == (52, 10)


def test_tail_on_100_and_1000_samples():
    assert tail_percentile([float(i) for i in range(1, 101)]) == (90, 90.0)
    assert tail_percentile([float(i) for i in range(1, 1001)]) == (99, 990.0)


def test_tail_counts_strictly_greater_with_ties():
    xs = [1.0] * 50 + [2.0] * 9
    # no value has ten samples strictly above it except 1.0 ... which has 9
    assert tail_percentile(xs) is None
    p, v = tail_percentile([1.0] * 50 + [2.0] * 10)
    assert v == 1.0 and p == 83


def test_cpu_noise_shares():
    before = [0] * 8
    after = [50, 0, 10, 30, 5, 0, 0, 5]
    n = cpu_noise(before, after)
    assert n == {"steal_pct": 5.0, "iowait_pct": 5.0}
